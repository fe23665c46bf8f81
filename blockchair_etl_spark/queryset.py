"""The engine's operator inventory, exercised on the driver testdata.

Every operator class from SURVEY.md §2 gets (a) a Spark DataFrame
implementation and (b) an equivalent ANSI-SQL oracle string that DuckDB
runs on the same parquet tables. The verification driver hash-compares
the two at sf=0.01; `tests/test_oracle_parity.py` runs the identical
check locally at sf=0.001.

Cross-engine determinism conventions (apply to every entry):

- Aggregates over fixed-point-valued doubles (prices, quantities,
  amounts) are computed as exact DECIMAL sums cast back to double
  (`macros.exact_sum`) — order-insensitive, so bit-identical between
  Spark's partial/final aggregation and DuckDB, and between any two
  cluster runs. Pass-through doubles (no re-aggregation) are exact.
- Every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver sorts columns by name before hashing).
- LIMIT/top-k queries order by a total ordering (unique tiebreak key)
  so the selected *set* is deterministic.
- `events.ts` is nanosecond-precision parquet; both engines truncate
  to microseconds (see io/sources.load_table; oracles CAST to
  TIMESTAMP).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .io.sources import events_between, load_table
from .macros import exact_sum
from .query.trace import trace_funds

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: SparkQuery
    oracle: str | None
    survey: str  # SURVEY.md §2 operator ids this entry exercises
    desc: str
    # False = pytest-only: stays in QUERIES (test_oracle_parity still
    # hash-checks it against its oracle every pytest run) but is
    # excluded from the driver surface (__spark_entry__.queries()), so
    # it consumes no slot in the driver's 50-entry rotation window.
    # See the window-budget decision note near the bottom of this file.
    driver: bool = True


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    survey: str,
    desc: str,
    oracle: str | None = None,
    driver: bool = True,
):
    def deco(fn: SparkQuery) -> SparkQuery:
        import functools

        from .caching import release_tracked

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the PREVIOUS invocation's tracked persists (see
            # caching.py): harnesses that run many registry queries in
            # one session (the verification driver, bench.py) hold at
            # most one query's caches at a time, even if they never
            # call release_tracked themselves.
            release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(
            fn=wrapped, oracle=oracle, survey=survey, desc=desc, driver=driver
        )
        return fn

    return deco


def _dec(c, scale: int = 6):
    return F.col(c).cast(f"decimal(18,{scale})") if isinstance(c, str) else c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Flagship: pricing summary (A1 group-multi-agg + P3 arithmetic + agg suite)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    survey="A1,P3,P8",
    desc="TPC-H-Q1-style grouped aggregate over lineitem (the reference's "
    "dim_addresses-style multi-aggregate, dim_addresses.sql:8-16)",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(1.0 - l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(1.0 - l_discount AS DECIMAL(6,4))
              * CAST(1.0 + l_tax AS DECIMAL(6,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Products stay exact decimals (per-row rounding would hit exact
    # half-cent cases where Spark rounds HALF_UP but DuckDB HALF_EVEN);
    # only the final sum is rounded to cents, which also keeps the
    # decimal→double cast exact (sum×100 < 2^53) in both engines.
    disc_price = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    charge = disc_price * (F.lit(1.0) + F.col("l_tax")).cast("decimal(6,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 2).alias("sum_qty"),
            exact_sum("l_extendedprice", 2).alias("sum_base_price"),
            # Inputs are exact 2dp, so products are exactly 4dp / 6dp:
            # these casts only drop guaranteed-zero digits (no rounding),
            # and keep sum×10^scale < 2^53 for an exact double cast.
            F.sum(disc_price).cast("decimal(38,4)").cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(38,6)").cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity", 2)).cast("double") / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(_dec("l_discount", 4)).cast("double") / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection / filter / scalar expressions (P1-P8)
# ---------------------------------------------------------------------------


@register(
    "p1_stg_projection",
    survey="P1,P2,P3,P4,P6",
    desc="staging-style projection+rename+unit-conversion+CASE over lineitem "
    "(mirrors stg_blocks.sql:9-52 and the convert_to_btc/calculate_cdd macros)",
    oracle="""
SELECT l_orderkey                      AS order_key,
       l_linenumber                    AS line_number,
       l_quantity                      AS qty,
       l_extendedprice                 AS price_usd,
       l_extendedprice / 100.0         AS price_cents_converted,
       (l_quantity / 7.0) * (l_extendedprice / 100.0) AS weighted_score,
       CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS return_status
FROM lineitem
WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
""",
)
def p1_stg_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_orderkey").isNotNull() & F.col("l_linenumber").isNotNull()
    ).select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price_usd"),
        (F.col("l_extendedprice") / F.lit(100.0)).alias("price_cents_converted"),
        ((F.col("l_quantity") / F.lit(7.0)) * (F.col("l_extendedprice") / F.lit(100.0))).alias(
            "weighted_score"
        ),
        F.when(F.col("l_returnflag") == "R", "returned").otherwise("kept").alias("return_status"),
    )


@register(
    "p7_avg_nonzero",
    survey="P7,A3",
    desc="COALESCE(AVG(NULLIF(x,0)),0) null-handling aggregate (app.py:304-308)",
    oracle="""
SELECT COALESCE(
         CAST(SUM(CASE WHEN l_discount <> 0
                       THEN CAST(l_discount AS DECIMAL(18,4)) END) AS DOUBLE)
         / COUNT(CASE WHEN l_discount <> 0 THEN 1 END),
         0.0)                                        AS avg_nonzero_discount,
       COUNT(CASE WHEN l_discount = 0 THEN 1 END)    AS n_zero_discount
FROM lineitem
""",
)
def p7_avg_nonzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nz = F.when(F.col("l_discount") != 0, F.col("l_discount"))
    return li.agg(
        F.coalesce(
            F.sum(nz.cast("decimal(18,4)")).cast("double") / F.count(nz), F.lit(0.0)
        ).alias("avg_nonzero_discount"),
        F.count(F.when(F.col("l_discount") == 0, F.lit(1))).alias("n_zero_discount"),
    )


@register(
    "p8_time_range_scan",
    survey="P8,P9,S9",
    desc="timestamp-range + predicate scan over the events stream table "
    "(app.py:292,350-351 date-window filters)",
    oracle="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events
WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                AND TIMESTAMP '2024-01-20 00:00:00'
  AND event_type IN ('purchase', 'signup')
""",
)
def p8_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events_between pushes the range onto the raw ns column → parquet
    # row-group pruning (a filter on the converted timestamp would not
    # push through the conversion expression)
    ev = events_between(spark, sf_dir, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    return ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "p10_regex_filter",
    survey="P10",
    desc="regex predicate scan (address-format validation analog, app.py:99-102)",
    oracle=r"""
SELECT event_id, user_id, props
FROM events
WHERE regexp_matches(props, '"k": 1[0-9]$')
""",
)
def p10_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("props").rlike(r'"k": 1[0-9]$')).select(
        "event_id", "user_id", "props"
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4)
# ---------------------------------------------------------------------------


@register(
    "j1_enrich_lines",
    survey="J1",
    desc="left equi-join fact→dim on a single key "
    "(int_transaction_flows.sql:44 tx LEFT JOIN blocks)",
    oracle="""
SELECT l.l_orderkey AS order_key, l.l_linenumber AS line_number,
       l.l_extendedprice AS price_usd,
       o.o_orderstatus AS order_status, o.o_orderpriority AS order_priority,
       o.o_totalprice AS order_total
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
""",
)
def j1_enrich_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "left").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_extendedprice").alias("price_usd"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").alias("order_total"),
    )


@register(
    "j2_flow_fanout",
    survey="J2,P5,P6",
    desc="denormalized flow fan-out: per-parent cross product of child rows "
    "(int_transaction_flows.sql:45-46 inputs×outputs per transaction), "
    "with spend-side negation (P5) and CASE flow typing (P6)",
    oracle="""
SELECT o.o_orderkey                          AS order_key,
       src.l_linenumber                      AS src_line,
       dst.l_linenumber                      AS dst_line,
       src.l_partkey                         AS src_part,
       dst.l_partkey                         AS dst_part,
       -src.l_extendedprice                  AS src_value_change,
       dst.l_extendedprice                   AS dst_value,
       CASE WHEN o.o_orderstatus = 'F' THEN 'final' ELSE 'open' END AS flow_type
FROM orders o
LEFT JOIN lineitem src ON o.o_orderkey = src.l_orderkey
LEFT JOIN lineitem dst ON o.o_orderkey = dst.l_orderkey
WHERE o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                        AND TIMESTAMP '1995-12-31 00:00:00'
  AND src.l_linenumber <> dst.l_linenumber
""",
)
def j2_flow_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1995-12-31 00:00:00").cast("timestamp_ntz"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_orderkey").alias("src_orderkey"),
        F.col("l_linenumber").alias("src_line"),
        F.col("l_partkey").alias("src_part"),
        F.col("l_extendedprice").alias("src_price"),
    )
    dst = li.select(
        F.col("l_orderkey").alias("dst_orderkey"),
        F.col("l_linenumber").alias("dst_line"),
        F.col("l_partkey").alias("dst_part"),
        F.col("l_extendedprice").alias("dst_price"),
    )
    return (
        orders.join(src, orders.o_orderkey == src.src_orderkey, "left")
        .join(dst, orders.o_orderkey == dst.dst_orderkey, "left")
        .filter(F.col("src_line") != F.col("dst_line"))
        .select(
            F.col("o_orderkey").alias("order_key"),
            "src_line",
            "dst_line",
            "src_part",
            "dst_part",
            (-F.col("src_price")).alias("src_value_change"),
            F.col("dst_price").alias("dst_value"),
            F.when(F.col("o_orderstatus") == "F", "final").otherwise("open").alias("flow_type"),
        )
    )


@register(
    "j3_zero_activity_dims",
    survey="J3,A1",
    desc="left join dim→events keeping zero-activity rows "
    "(int_address_balances_with_history.sql:49-50)",
    oracle="""
SELECT c.c_custkey AS cust_key,
       COUNT(o.o_orderkey) AS order_count,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
FROM customer c
LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey
 AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                       AND TIMESTAMP '1995-06-30 00:00:00'
GROUP BY c.c_custkey
""",
)
def j3_zero_activity_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1995-06-30 00:00:00").cast("timestamp_ntz"),
        )
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("cust_key"))
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum(_dec("o_totalprice", 2)), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


@register(
    "j4_region_rollup",
    survey="J4,A1",
    desc="inner equi-joins through broadcast-sized dims + rollup "
    "(app.py:372 trace JOIN dim_blocks; dims broadcast)",
    oracle="""
SELECT r.r_name AS region_name,
       COUNT(*) AS customer_count,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY r.r_name
""",
)
def j4_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            exact_sum("c_acctbal", 2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (A2, A4)
# ---------------------------------------------------------------------------


@register(
    "a2_distinct_active",
    survey="A2,P8",
    desc="global COUNT DISTINCT over a date window (app.py:289-293)",
    oracle="""
SELECT COUNT(DISTINCT o_custkey) AS active_customers, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1996-12-31 00:00:00'
""",
)
def a2_distinct_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-12-31 00:00:00").cast("timestamp_ntz"),
        )
    ).agg(
        F.countDistinct("o_custkey").alias("active_customers"),
        F.count(F.lit(1)).alias("order_count"),
    )


@register(
    "a4_most_active",
    survey="A4,O1",
    desc="group-count argmax: most-active key (app.py:239-246), "
    "deterministic tiebreak on the key",
    oracle="""
SELECT l_suppkey AS supp_key, COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_suppkey
ORDER BY n_lines DESC, supp_key ASC
LIMIT 1
""",
)
def a4_most_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_suppkey").alias("supp_key"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.desc("n_lines"), F.asc("supp_key"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Windows, unions (W1, W2, U1)
# ---------------------------------------------------------------------------


@register(
    "u1_union_changes",
    survey="U1,P5",
    desc="schema-aligned UNION ALL of negated spends and receives "
    "(int_address_balances_with_history.sql:8-35)",
    oracle="""
SELECT event_id, user_id, -value AS amount, 'spend' AS change_type
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, value AS amount, 'receive' AS change_type
FROM events WHERE event_type <> 'purchase'
""",
)
def u1_union_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spends = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", (-F.col("value")).alias("amount"), F.lit("spend").alias("change_type")
    )
    receives = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", F.col("value").alias("amount"), F.lit("receive").alias("change_type")
    )
    return spends.unionByName(receives)


@register(
    "w1_running_balance",
    survey="W1,U1,P5",
    desc="cumulative running balance per key ordered by event time, RANGE "
    "frame with ties (int_address_balances_with_history.sql:44-46); ties "
    "manufactured by minute truncation so peers share the running value",
    oracle="""
SELECT event_id, user_id,
       date_trunc('minute', CAST(ts AS TIMESTAMP)) AS ts_minute,
       CASE WHEN event_type = 'purchase' THEN -value ELSE value END AS value_change,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN -value ELSE value END
                     AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id
                  ORDER BY date_trunc('minute', CAST(ts AS TIMESTAMP)))
            AS DOUBLE) AS running_balance
FROM events
""",
)
def w1_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    change = F.when(F.col("event_type") == "purchase", -F.col("value")).otherwise(F.col("value"))
    ev = ev.select(
        "event_id",
        "user_id",
        F.date_trunc("minute", F.col("ts")).cast("timestamp_ntz").alias("ts_minute"),
        change.alias("value_change"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_minute")
    return ev.withColumn(
        "running_balance", F.sum(_dec("value_change", 2)).over(w).cast("double")
    )


@register(
    "w2_trace_sequence",
    survey="W2",
    desc="ROW_NUMBER sequence within a partition (fct_transaction_traces.sql:24)",
    oracle="""
SELECT l_orderkey AS order_key, l_linenumber AS line_number,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS BIGINT) AS trace_sequence
FROM lineitem
""",
)
def w2_trace_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.row_number().over(w).cast("bigint").alias("trace_sequence"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k (O1, O2)
# ---------------------------------------------------------------------------


@register(
    "o1_top_balance",
    survey="O1",
    desc="top-1 by metric with deterministic tiebreak (app.py:319-324 "
    "richest address)",
    oracle="""
SELECT c_custkey AS cust_key, c_name AS cust_name, c_acctbal AS balance
FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC
LIMIT 1
""",
)
def o1_top_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(1)
        .select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("c_acctbal").alias("balance"),
        )
    )


@register(
    "o2_page_events",
    survey="O2",
    desc="multi-key sort + LIMIT page (app.py:373-374 ORDER BY hop, tx_time "
    "LIMIT 1000), total ordering via unique key",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
FROM events
ORDER BY user_id ASC, ts ASC, event_id ASC
LIMIT 1000
""",
)
def o2_page_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.asc("user_id"), F.asc("ts"), F.asc("event_id"))
        .limit(1000)
        .select("event_id", "user_id", "ts", "event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality assertions (T1, T3) — expected-empty violation queries
# ---------------------------------------------------------------------------


@register(
    "t1_unique_violations",
    survey="T1,T2",
    desc="dbt-style `unique` test: duplicate key values (schema.yml:66-69); "
    "empty result = pass",
    oracle="""
SELECT o_orderkey AS dup_key, COUNT(*) AS n
FROM orders
WHERE o_orderkey IS NOT NULL
GROUP BY o_orderkey
HAVING COUNT(*) > 1
""",
)
def t1_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey").isNotNull())
        .groupBy(F.col("o_orderkey").alias("dup_key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "t2_not_null_violations",
    survey="T2",
    desc="dbt-style `not_null` test (schema.yml:9-11) routed through "
    "quality.not_null_violations over a derived staging column "
    "(NULLIF-injected nulls — the raw testdata has none); "
    "empty result = pass",
    oracle="""
SELECT o_orderkey, CAST(NULL AS VARCHAR) AS status_checked
FROM orders
WHERE NULLIF(o_orderstatus, 'F') IS NULL
""",
)
def t2_not_null_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality.checks import not_null_violations

    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("status_checked"),
    )
    return not_null_violations(staged, "status_checked")


@register(
    "t3_composite_unique_violations",
    survey="T3",
    desc="composite-key uniqueness test (schema.yml:76-78 "
    "[transaction_hash, block_id]); empty result = pass",
    oracle="""
SELECT l_orderkey AS key1, l_linenumber AS key2, COUNT(*) AS n
FROM lineitem
GROUP BY l_orderkey, l_linenumber
HAVING COUNT(*) > 1
""",
)
def t3_composite_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("key1"), F.col("l_linenumber").alias("key2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Event-time windows: tumbling window aggregation
# ---------------------------------------------------------------------------


@register(
    "tumbling_hourly_events",
    survey="§2.10",
    desc="tumbling 1h event-time window aggregate",
    oracle="""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative graph trace (J5) — the reference's recursive-CTE fund tracing
# ---------------------------------------------------------------------------

_TRACE_EDGE_SQL = """
SELECT CAST(user_id AS BIGINT)                       AS src,
       CAST(FLOOR(value) AS BIGINT) % 150            AS dst,
       event_id                                      AS tx_hash,
       CAST(ts AS TIMESTAMP)                         AS tx_time
FROM events
WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                                AND TIMESTAMP '2024-01-25 00:00:00'
"""


def _trace_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer-graph edge list derived from events (src/dst share a key
    domain so multi-hop chains exist, per FIXTURES.md §5 graph invariant)."""
    ev = events_between(spark, sf_dir, "2024-01-05 00:00:00", "2024-01-25 00:00:00")
    return ev.select(
        F.col("user_id").cast("bigint").alias("src"),
        (F.floor(F.col("value")).cast("bigint") % 150).alias("dst"),
        F.col("event_id").alias("tx_hash"),
        F.col("ts").alias("tx_time"),
    )


@register(
    "j5_trace_2hop",
    survey="J5,U2,J4",
    desc="bounded-depth iterative fund trace (recursive CTE analog, "
    "app.py:338-375): driver loop of frontier self-joins with hop counter; "
    "oracle is the 2-hop unrolled SQL",
    oracle=f"""
WITH edges AS ({_TRACE_EDGE_SQL}),
h1 AS (
  SELECT 1 AS hop, src, dst, tx_hash, tx_time FROM edges WHERE src = 7
),
h2 AS (
  SELECT 2 AS hop, e.src, e.dst, e.tx_hash, e.tx_time
  FROM edges e JOIN h1 ON h1.dst = e.src
)
SELECT hop, src, dst, tx_hash, tx_time FROM h1
UNION ALL
SELECT hop, src, dst, tx_hash, tx_time FROM h2
""",
)
def j5_trace_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trace_edges(spark, sf_dir)
    return trace_funds(edges, source=7, max_hops=2)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text analysis /
# multimodal) over the documents and embeddings tables
# ---------------------------------------------------------------------------

from .llmdata import classify as _classify  # noqa: E402
from .llmdata import dedup as _dedup  # noqa: E402
from .llmdata import multimodal as _mm  # noqa: E402
from .llmdata import packing as _packing  # noqa: E402
from .llmdata import sampling as _sampling  # noqa: E402
from .llmdata import similarity as _sim  # noqa: E402
from .llmdata import text as _text  # noqa: E402

# DuckDB fragment equivalent to text.tokens_col
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


@register(
    "dedup_exact",
    survey="LLM-dedup",
    desc="exact dedup: whitespace-normalized content hash groups with "
    "deterministic canonical id",
    oracle=f"""
SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_md5,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.exact_duplicate_groups(docs)


@register(
    "dedup_ngram_jaccard",
    survey="LLM-dedup",
    desc="exact 3-gram Jaccard near-dup pairs via shared-shingle self-join",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc, sh FROM (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM toks)
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_common,
       i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc
JOIN sizes sb ON i.id_b = sb.doc
WHERE i.n_common / (sa.n_sh + sb.n_sh - i.n_common) >= 0.1
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)


# Pinned demonstration vocabulary for the BPE-apply oracle entry: the
# merge list is the model ARTIFACT (bpe_train learns one; applying a
# given list is deterministic), so the entry pins a literal list —
# common English bigram merges, in order — and BOTH the Spark call and
# the DuckDB oracle are generated from this one constant so they cannot
# drift. Training itself is pytest-verified against a python reference
# (test_bpe_train_apply_parity); it is a driver-loop aggregation, not a
# single SQL statement.
_BPE_DEMO_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
]


def _sql_bpe_enc_expr(merges: list[tuple[str, str]]) -> str:
    """The DuckDB greedy-merge-fold expression over a `word` column —
    THE encoding scheme, factored so every oracle that replays the BPE
    fold (tokenizer_bpe_apply, corpus_prep_v5_pipeline) generates it
    from one body and a change to the delimiter scheme or replace chain
    can never leave a sibling oracle silently stale.

    The greedy left-to-right merge fold is EXACTLY non-overlapping
    string replace over fully delimited symbols: encode a word's
    symbols as |s1^|s2^|...^ and each merge (l, r) as
    replace('|l^|r^' -> '|lr^'); both scanners consume the match and
    continue AFTER the replacement, and the two-sided delimiters make
    prefix/suffix false matches impossible (equivalence fuzzed over
    400+ random words x 11 chained merges in the r11 session).
    Tokens are [a-z0-9]+ so the delimiter characters never occur
    inside a symbol."""
    enc = (
        "'|' || array_to_string(list_transform("
        "generate_series(1, length(word)), i -> substr(word, i, 1)), '^|') || '^'"
    )
    for l, r in merges:
        enc = f"replace({enc}, '|{l}^|{r}^', '|{l}{r}^')"
    return enc


def _sql_bpe_apply_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of tokenizer.bpe_apply for a literal merge list —
    the fold expression itself is _sql_bpe_enc_expr (shared)."""
    enc = _sql_bpe_enc_expr(merges)
    return f"""
WITH ws AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
toks AS (
  SELECT doc_id, u.i AS wpos, ws.w[u.i] AS word
  FROM ws, unnest(generate_series(1, len(ws.w))) AS u(i)
),
encw AS (
  SELECT word,
         string_split(substr(e, 2, length(e) - 2), '^|') AS toks_arr
  FROM (SELECT word, {enc} AS e
        FROM (SELECT DISTINCT word FROM toks))
),
occ AS (
  SELECT t.doc_id, t.wpos, e.toks_arr, len(e.toks_arr) AS n
  FROM toks t JOIN encw e USING (word)
),
offs AS (
  SELECT doc_id, wpos, toks_arr,
         COALESCE(SUM(n) OVER (PARTITION BY doc_id ORDER BY wpos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM occ
)
SELECT o.doc_id, CAST(o.off + u.i - 1 AS BIGINT) AS pos,
       o.toks_arr[u.i] AS token
FROM offs o, unnest(generate_series(1, len(o.toks_arr))) AS u(i)
"""


@register(
    "tokenizer_bpe_apply",
    survey="LLM-text (learned-vocabulary tokenizer, apply step)",
    desc="BPE tokenization with a pinned learned vocabulary (the merge "
    "list is the model artifact; applying it is deterministic): words "
    "-> character symbols -> 8 ordered greedy merges folded JVM-side "
    "over DISTINCT words only, encodings joined back to the token "
    "stream, documents reassembled in order -> one row per (doc, "
    "token position). The DuckDB twin replays the fold as chained "
    "delimiter-safe string replaces; training the list is the "
    "driver-loop aggregation pytest-verified in tokenizer.bpe_train",
    oracle=_sql_bpe_apply_oracle(_BPE_DEMO_MERGES),
)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.tokenizer import bpe_apply

    docs = load_table(spark, sf_dir, "documents")
    return (
        bpe_apply(docs, _BPE_DEMO_MERGES)
        .select("doc_id", F.posexplode("tokens").alias("pos", "token"))
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token")
    )


@register(
    "tokenizer_unigram_seed",
    survey="LLM-text (learned-vocabulary tokenizer, unigram-LM family)",
    desc="Seed inventory of the unigram-LM (SentencePiece-style) "
    "tokenizer: every substring occurrence up to 3 chars over the "
    "word-frequency table, weighted by word freq — all single chars "
    "kept (mandatory coverage), multi-char pieces capped at the top "
    "100 by (count desc, piece asc) — the cap binds at every driver "
    "scale, exercising the tie-break order. This is the SQL-expressible "
    "training stage and carries the family's hard oracle; the EM "
    "rounds and Viterbi apply are pytest-pinned against brute-force "
    "segmentation enumeration (tests/test_unigram.py)",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_SQL_TOKS}) AS word FROM documents
),
words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY word
),
subs AS (
  SELECT substring(w.word, s.i, l.l) AS piece, w.freq
  FROM words w,
       unnest(generate_series(1, length(w.word))) AS s(i),
       unnest(generate_series(1, least(3, length(w.word) - s.i + 1))) AS l(l)
),
counts AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM subs GROUP BY piece
)
SELECT piece, cnt FROM counts WHERE length(piece) = 1
UNION ALL
SELECT piece, cnt FROM (
  SELECT piece, cnt FROM counts WHERE length(piece) > 1
  ORDER BY cnt DESC, piece ASC LIMIT 100
)
""",
)
def tokenizer_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.tokenizer import word_frequency_table
    from .llmdata.unigram import seed_piece_counts

    docs = load_table(spark, sf_dir, "documents")
    words = word_frequency_table(docs).select("word", "freq")
    return seed_piece_counts(words, max_piece_len=3, seed_size=100)


# Frozen unigram-LM artifact for the perplexity-gate entry — the
# tokenizer_bpe_apply _BPE_DEMO_MERGES precedent: a FIXED vocabulary so
# the oracle can be static SQL. Derived once from _model_from_counts
# over a hand-fixed count table (singles at 3 + common-English/corpus
# multi-char pieces); float reprs round-trip exactly.
_UNIGRAM_GATE_PIECES: list[tuple[str, float]] = [
    ("data", -2.5649493574615367), ("the", -2.747270914255491),
    ("row", -2.8526314299133175), ("th", -2.9704144655697013),
    ("er", -3.258096538021482), ("ta", -3.258096538021482),
    ("ar", -3.4404180948154366), ("que", -3.4404180948154366),
    ("st", -3.4404180948154366), ("an", -3.6635616461296463),
    ("in", -3.6635616461296463), ("or", -3.6635616461296463),
    ("a", -3.951243718581427), ("al", -3.951243718581427),
    ("b", -3.951243718581427), ("c", -3.951243718581427),
    ("d", -3.951243718581427), ("e", -3.951243718581427),
    ("f", -3.951243718581427), ("g", -3.951243718581427),
    ("h", -3.951243718581427), ("i", -3.951243718581427),
    ("j", -3.951243718581427), ("k", -3.951243718581427),
    ("l", -3.951243718581427), ("m", -3.951243718581427),
    ("n", -3.951243718581427), ("o", -3.951243718581427),
    ("p", -3.951243718581427), ("q", -3.951243718581427),
    ("r", -3.951243718581427), ("s", -3.951243718581427),
    ("t", -3.951243718581427), ("u", -3.951243718581427),
    ("ue", -3.951243718581427), ("v", -3.951243718581427),
    ("w", -3.951243718581427), ("y", -3.951243718581427),
]

# (word, q_logp) for the documents corpus vocabulary under the frozen
# pieces — computed by the pytest-pinned forward pass (_py_forward_
# backward, marginalizing over ALL segmentations, 2^-20 quantized) and
# pasted as the oracle's constant relation; the corpus vocabulary is
# closed (31 words at every driver SF), so the table is total.
# tests/test_unigram.py::test_gate_entry_constants_match_dp regenerates
# it from _UNIGRAM_GATE_PIECES and fails on any drift.
_UNIGRAM_GATE_QLOGP: list[tuple[str, int]] = [
    ("a", -4143179), ("agg", -12429538), ("batch", -20715897),
    ("big", -12429538), ("column", -24859076), ("customer", -23574555),
    ("data", -2689349), ("dup", -12429538), ("fast", -11881869),
    ("filter", -19979045), ("group", -20715897), ("hash", -16572717),
    ("join", -12112866), ("key", -12429538), ("line", -12112866),
    ("merge", -15835866), ("order", -11376014), ("part", -11881869),
    ("query", -11857991), ("row", -2991072), ("scan", -12112866),
    ("slow", -16572717), ("small", -16552744), ("sort", -12112866),
    ("spark", -16025048), ("stream", -20168227), ("table", -15835866),
    ("the", -2864599), ("value", -12389591), ("vector", -20399224),
    ("window", -20399224),
]

# gate threshold in quantized mean-log space: mean word logp >= -14.
# ppl = exp(-mean logp), so this is exactly "ppl <= e^14" — the
# threshold lives in log space so the GATE COMPARISON is pure integer
# arithmetic (q_total >= T*n), bit-identical across engines; keeps
# ~70% of docs at the driver SFs (selective, non-trivial both ways).
_UNIGRAM_GATE_MIN_QLOGP = -14 * 1048576


@register(
    "quality_unigram_ppl_gate",
    survey="LLM-text (CCNet-shaped LM perplexity gate, integer-portable half)",
    desc="the SQL-expressible half of the unigram-LM perplexity gate "
    "(CCNet: filter/bucket a crawl by LM score): per-word forward-pass "
    "scores under a FROZEN pieces artifact join the token stream, "
    "per-doc totals sum as exact BIGINTs, and the threshold compares "
    "in quantized mean-log space (q_total >= T*n_words <=> ppl <= "
    "e^14) — integer arithmetic end-to-end, one final IEEE division "
    "for the reported mean_logp, no engine-variant exp()/log() in the "
    "compared output (the bigram_fluency idiom). The forward-pass DP "
    "itself is pytest-pinned vs brute-force enumeration; its (word, "
    "q_logp) outputs over the closed 31-word corpus vocabulary ride "
    "the oracle as a fixture-derived constant relation (the BPE "
    "merge-list-constant precedent), drift-gated by "
    "test_gate_entry_constants_match_dp",
    oracle=f"""
WITH lm(word, q_logp) AS (VALUES {", ".join(f"('{w}', {q})" for w, q in _UNIGRAM_GATE_QLOGP)}),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(q_logp) AS BIGINT) AS q_total
  FROM tok JOIN lm USING (word)
  GROUP BY doc_id
)
SELECT doc_id, n_words, q_total,
       CAST(q_total AS DOUBLE) / CAST(n_words * 1048576 AS DOUBLE)
         AS mean_logp
FROM per_doc
WHERE q_total >= {_UNIGRAM_GATE_MIN_QLOGP} * n_words
""",
)
def quality_unigram_ppl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.unigram import unigram_doc_qtotals

    docs = load_table(spark, sf_dir, "documents")
    per_doc = unigram_doc_qtotals(docs, _UNIGRAM_GATE_PIECES)
    return per_doc.filter(
        F.col("q_total") >= F.lit(_UNIGRAM_GATE_MIN_QLOGP) * F.col("n_words")
    ).select(
        "doc_id",
        "n_words",
        "q_total",
        (
            F.col("q_total").cast("double")
            / (F.col("n_words") * F.lit(1048576)).cast("double")
        ).alias("mean_logp"),
    )


def _sql_minhash_sig(num_hashes: int = 16) -> str:
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || feat)) AS m{i}" for i in range(num_hashes)
    )
    return f"""
  SELECT doc, {mins}
  FROM (SELECT DISTINCT doc, feat FROM (
          SELECT doc_id AS doc,
                 unnest(list_transform(range(1, greatest(len({_SQL_TOKS}) - 3 + 1, 0) + 1),
                        i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 2), ' '))) AS feat
          FROM documents))
  GROUP BY doc
"""


@register(
    "dedup_minhash_lsh",
    survey="LLM-dedup",
    desc="MinHash(16)+LSH(4 bands) near-dup candidate pairs with "
    "estimated Jaccard >= 0.5; md5-based hash family is engine-portable",
    oracle=f"""
WITH sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL
  SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL
  SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL
  SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
)
SELECT c.id_a, c.id_b,
       ((a.m0 = b.m0)::INT + (a.m1 = b.m1)::INT + (a.m2 = b.m2)::INT +
        (a.m3 = b.m3)::INT + (a.m4 = b.m4)::INT + (a.m5 = b.m5)::INT +
        (a.m6 = b.m6)::INT + (a.m7 = b.m7)::INT + (a.m8 = b.m8)::INT +
        (a.m9 = b.m9)::INT + (a.m10 = b.m10)::INT + (a.m11 = b.m11)::INT +
        (a.m12 = b.m12)::INT + (a.m13 = b.m13)::INT + (a.m14 = b.m14)::INT +
        (a.m15 = b.m15)::INT) / 16.0 AS est_jaccard
FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
WHERE ((a.m0 = b.m0)::INT + (a.m1 = b.m1)::INT + (a.m2 = b.m2)::INT +
       (a.m3 = b.m3)::INT + (a.m4 = b.m4)::INT + (a.m5 = b.m5)::INT +
       (a.m6 = b.m6)::INT + (a.m7 = b.m7)::INT + (a.m8 = b.m8)::INT +
       (a.m9 = b.m9)::INT + (a.m10 = b.m10)::INT + (a.m11 = b.m11)::INT +
       (a.m12 = b.m12)::INT + (a.m13 = b.m13)::INT + (a.m14 = b.m14)::INT +
       (a.m15 = b.m15)::INT) / 16.0 >= 0.5
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)


_MH_MATCH_SUM = " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(16))


@register(
    "dedup_minhash_lsh_capped",
    survey="LLM-dedup (hot-bucket-capped LSH pair generation, r14 verdict)",
    desc="MinHash+LSH pairs with max_bucket=2: band buckets over the "
    "cap collapse to one pair-generating representative per full "
    "signature plus linear rep->member star pairs, bounding a "
    "degenerate bucket's candidates at (#signatures)^2 + h instead of "
    "h^2 (1M identical boilerplate docs at 100 TB is ~5e11 pairs "
    "uncapped). max_bucket=2 BINDS on the fixture (buckets of 3-4 "
    "exist at every SF), so the oracle checks the collapse semantics "
    "themselves, not just the untouched path; CC/survivor equivalence "
    "to the uncapped form is pinned by "
    "test_minhash_max_bucket_bounds_megabucket",
    oracle=f"""
WITH sig AS ({_sql_minhash_sig(16)}),
sigk AS (
  SELECT doc, md5(concat_ws('|', {", ".join(f"m{i}" for i in range(16))})) AS sig_key,
         {", ".join(f"m{i}" for i in range(16))}
  FROM sig
),
bands AS (
  SELECT doc, sig_key, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sigk
  UNION ALL
  SELECT doc, sig_key, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sigk
  UNION ALL
  SELECT doc, sig_key, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sigk
  UNION ALL
  SELECT doc, sig_key, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sigk
),
counts AS (
  SELECT band_idx, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2
),
marked AS (
  SELECT b.doc, b.sig_key, b.band_idx, b.band_key, (c.n > 2) AS big
  FROM bands b JOIN counts c USING (band_idx, band_key)
),
gen AS (
  SELECT doc, band_idx, band_key FROM marked WHERE NOT big
  UNION ALL
  SELECT MIN(doc) AS doc, band_idx, band_key
  FROM marked WHERE big GROUP BY band_idx, band_key, sig_key
),
members AS (SELECT DISTINCT sig_key, doc FROM marked WHERE big),
grp AS (SELECT sig_key, MIN(doc) AS rep FROM members GROUP BY sig_key),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT ga.doc AS id_a, gb.doc AS id_b
    FROM gen ga JOIN gen gb
      ON ga.band_idx = gb.band_idx AND ga.band_key = gb.band_key
     AND ga.doc < gb.doc
    UNION ALL
    SELECT g.rep, m.doc FROM members m JOIN grp g USING (sig_key)
    WHERE m.doc <> g.rep
  )
)
SELECT c.id_a, c.id_b, ({_MH_MATCH_SUM}) / 16.0 AS est_jaccard
FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
WHERE ({_MH_MATCH_SUM}) / 16.0 >= 0.5
""",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.minhash_lsh_pairs(
        docs, num_hashes=16, band_size=4, threshold=0.5, max_bucket=2
    )


@register(
    "dedup_simhash",
    survey="LLM-dedup",
    desc="32-bit SimHash fingerprints from md5-derived token hashes, "
    "frequency-weighted; all-integer arithmetic",
    oracle="""
WITH tf AS (
  SELECT doc_id AS doc, token, COUNT(*) AS w, substr(md5(token), 1, 8) AS h
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents)
  GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
)
SELECT doc,
       CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
FROM per_bit GROUP BY doc
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.simhash_fingerprints(docs, bits=32)


@register(
    "dedup_embedding_cosine",
    survey="LLM-dedup",
    desc="embedding-cosine near-dup pairs blocked on the label column, "
    "exact-decimal dot accumulation",
    oracle="""
WITH scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(CAST(round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE)
         / (sqrt(CAST(CAST(round(list_sum(list_transform(list_zip(a.embedding, a.embedding),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE))
            * sqrt(CAST(CAST(round(list_sum(list_transform(list_zip(b.embedding, b.embedding),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE))) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _dedup.embedding_dup_pairs(emb, threshold=0.3, block_col="label", dim=64)


@register(
    "ann_cosine_topk",
    survey="LLM-similarity",
    desc="brute-force cosine top-10 against the vec_id=0 query vector "
    "(ANN exactness baseline; LSH variant tested for recall in pytest)",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(CAST(round(list_sum(list_transform(list_zip(e.embedding, q.qv),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE)
         / (sqrt(CAST(CAST(round(list_sum(list_transform(list_zip(e.embedding, e.embedding),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE))
            * sqrt(CAST(CAST(round(list_sum(list_transform(list_zip(q.qv, q.qv),
              x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))), 9)
              AS DECIMAL(38,9)) AS DOUBLE))) AS cosine
  FROM embeddings e, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.cosine_topk(emb, [float(v) for v in qv], k=10)


@register(
    "text_token_stats",
    survey="LLM-text",
    desc="token counting: whitespace tokens + BPE-ish pre-tokens + chars",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({_SQL_TOKS}) AS n_tokens_ws,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_tokens_bpe
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.token_stats(docs)


@register(
    "text_quality",
    survey="LLM-text",
    desc="quality scoring: length/punctuation/stopword heuristics + "
    "composite score (integer counts, double division only)",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks,
         length(text) AS n_chars,
         len({_SQL_TOKS}) AS n_words,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
         len(list_filter({_SQL_TOKS},
             x -> list_contains(['the','and','of','to','in','is','a'], x))) AS n_stop,
         length(array_to_string({_SQL_TOKS}, '')) AS word_chars
  FROM documents
)
SELECT doc_id, n_chars, n_words,
       CASE WHEN n_words > 0 THEN word_chars / n_words ELSE 0.0 END AS avg_word_len,
       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END AS stopword_ratio,
       least(1.0, n_words / 50.0) * 0.4
         + least(1.0, (CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END) * 5.0) * 0.3
         + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
         AS quality_score
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.quality_scores(docs)


def _sql_lang_scores() -> str:
    parts = []
    for lang, sw in _text.STOPWORDS.items():
        lst = ",".join(f"'{w}'" for w in sw)
        parts.append(
            f"len(list_filter({_SQL_TOKS}, x -> list_contains([{lst}], x))) AS score_{lang}"
        )
    return ",\n       ".join(parts)


@register(
    "text_lang_id",
    survey="LLM-text",
    desc="stopword-heuristic language ID with deterministic tie priority",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
       {_sql_lang_scores()}
  FROM documents
)
SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
       CASE
         WHEN score_en >= score_de AND score_en >= score_es
          AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         WHEN score_de >= score_es AND score_de >= score_fr
          AND score_de >= score_zh THEN 'de'
         WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
         WHEN score_fr >= score_zh THEN 'fr'
         ELSE 'zh'
       END AS predicted_lang
FROM s
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.lang_id(docs)


@register(
    "doc_fingerprints",
    survey="LLM-text",
    desc="document fingerprinting: normalized-content md5 + 1-hash token minhash",
    oracle=f"""
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_md5,
       list_min(list_transform({_SQL_TOKS}, t -> md5(t))) AS min_token_hash
FROM documents
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.fingerprints(docs)


# winnowing fingerprint selection as a reusable oracle CTE body →
# (doc, pos, fp); shared by text_winnowing_fingerprints and
# dedup_winnowing_pairs so the two oracles cannot drift
_SQL_WINNOW_FP = """
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS s
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(s) - 4, 0) + 1),
                i -> struct_pack(i := i,
                     h := ('0x' || substr(md5(substr(s, i, 5)), 1, 15))::BIGINT)))
           AS g
  FROM norm
),
pos AS (SELECT doc_id, g.i AS i, g.h AS h FROM grams),
n AS (SELECT doc_id, COUNT(*) AS n_pos FROM pos GROUP BY 1),
sel AS (
  SELECT w.doc_id, q.i AS pos, q.h AS fp,
         ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.i
                            ORDER BY q.h ASC, q.i DESC) AS rn
  FROM (SELECT p.doc_id, p.i FROM pos p JOIN n USING (doc_id)
        WHERE p.i <= greatest(n.n_pos - 3, 1)) w
  JOIN pos q ON q.doc_id = w.doc_id AND q.i BETWEEN w.i AND w.i + 3
),
winnow AS (
  SELECT DISTINCT doc_id AS doc, CAST(pos AS BIGINT) AS pos, fp
  FROM sel WHERE rn = 1
)"""


@register(
    "text_winnowing_fingerprints",
    survey="LLM-text (rolling-hash document fingerprinting: MOSS winnowing)",
    desc="winnowing fingerprint sets (Schleimer et al. SIGMOD'03): "
    "hash every 5-char k-gram of the normalized text, select each "
    "sliding window-of-4's minimum (rightmost on ties), dedup — any "
    "match >= w+k-1 = 8 chars between two documents shares a selected "
    "fingerprint at expected density 2/(w+1), the local-selection "
    "guarantee the global-min sketch and MinHash lack. Selection runs "
    "entirely in array-space inside the document's row (packed-string "
    "keys, per-window array_min): a narrow map with ZERO shuffles — "
    "the explode+window-min form measured faster locally but shuffles "
    "the gram stream, several times the corpus size at scale; "
    "k-gram hashes are independent md5-prefix values (engine-portable; "
    "the Karp-Rabin rolling recurrence is a sequential cpu trick, not "
    "a semantic requirement); pinned against a pure-python reference "
    "in tests/test_llmdata.py",
    oracle=f"""{_SQL_WINNOW_FP}
SELECT doc, pos, fp FROM winnow
""",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.winnowing_fingerprints(docs, k=5, window=4)


@register(
    "dedup_winnowing_pairs",
    survey="LLM-dedup (passage-level near-dup via winnowing overlap — MOSS)",
    desc="near-dup / quoted-passage pairs by Jaccard over winnowing "
    "fingerprint-hash sets: candidates share >= 2 RARE (df <= 50) "
    "fingerprints with n_shared then re-counted EXACTLY over all "
    "fingerprints per candidate — the deployed df-bounded shape (the "
    "dedup_bow_cosine_zipf rule: the EXACT all-fp self-join is "
    "quadratic on ubiquitous boilerplate fingerprints and timed out "
    "the 10x scaling gate; bounding candidates to rare fps trades "
    "only boilerplate-only recall, reported scores stay exact). "
    "Scored position-independently so a passage quoted at a different "
    "offset still matches — the passage-level complement of shingle "
    "Jaccard, off a fingerprint stream only ~2/(w+1) the gram stream",
    oracle=f"""{_SQL_WINNOW_FP},
fp_sets AS (SELECT DISTINCT doc, fp FROM winnow),
sizes AS (SELECT doc, COUNT(*) AS n_fp FROM fp_sets GROUP BY doc),
rare AS (SELECT fp FROM fp_sets GROUP BY fp HAVING COUNT(*) <= 50),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM (SELECT s.doc, s.fp FROM fp_sets s JOIN rare USING (fp)) a
  JOIN fp_sets b ON a.fp = b.fp AND a.doc < b.doc
),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN fp_sets fa ON fa.doc = c.id_a
  JOIN fp_sets fb ON fb.doc = c.id_b AND fb.fp = fa.fp
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT i.id_a, i.id_b, i.n_shared,
       CAST(i.n_shared AS DOUBLE)
         / (sa.n_fp + sb.n_fp - i.n_shared) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc = i.id_a
JOIN sizes sb ON sb.doc = i.id_b
WHERE CAST(i.n_shared AS DOUBLE) / (sa.n_fp + sb.n_fp - i.n_shared) >= 0.2
""",
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.winnowing_pairs(
        docs, k=5, window=4, min_shared=2, threshold=0.2, max_df=50
    )


@register(
    "multimodal_features",
    survey="LLM-multimodal",
    desc="binary media column -> Arrow-batched mapInPandas feature "
    "extraction (decode stubbed deterministically); oracle covers the "
    "SQL-expressible columns (byte length, content sha256)",
    oracle="""
SELECT doc_id AS media_id, 'image' AS kind,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.lit("image/fake").alias("mime_type"),
        F.lit(8).cast("bigint").alias("width"),
        F.lit(8).cast("bigint").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit("synthetic://documents").alias("source_uri"),
    )
    feats = _mm.extract_features(media, feature_dim=16, fake_decode=True)
    return feats.select("media_id", "kind", "n_bytes", "content_sha256")


# ---------------------------------------------------------------------------
# Remaining coverage: per-key rollup with COUNT DISTINCT (A1), SQL API
# ---------------------------------------------------------------------------


@register(
    "a1_supplier_rollup",
    survey="A1",
    desc="per-key multi-aggregate with COUNT DISTINCT "
    "(dim_addresses.sql:8-16: sums + count(distinct transaction_hash))",
    oracle="""
SELECT l_suppkey AS supp_key,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_qty,
       COUNT(DISTINCT l_orderkey) AS order_count,
       COUNT(*) AS line_count
FROM lineitem
GROUP BY l_suppkey
""",
)
def a1_supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_suppkey").alias("supp_key")).agg(
        exact_sum("l_quantity", 2).alias("lifetime_qty"),
        F.countDistinct("l_orderkey").alias("order_count"),
        F.count(F.lit(1)).alias("line_count"),
    )


@register(
    "sql_api_priority_counts",
    survey="§3.3 (spark.sql surface)",
    desc="the engine's SQL entry point: temp-view registration + "
    "spark.sql text (the dashboard's parameterized-SQL path, app.py:289+)",
    oracle="""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
""",
)
def sql_api_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Multi-join analytic shapes (join-reordering / broadcast surface) and
# gap-based sessionization
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    survey="J1,J4,A1,O2",
    desc="3-way join + grouped revenue + top-10 (TPC-H Q3 shape; "
    "exercises join ordering and TakeOrderedAndProject)",
    oracle="""
SELECT l.l_orderkey AS order_key,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderpriority AS order_priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
ORDER BY revenue DESC, order_key ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    revenue = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.sum(revenue).cast("decimal(38,4)").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


@register(
    "q5_region_supplier_revenue",
    survey="J4,A1",
    desc="6-way join through broadcast dims with co-nation constraint "
    "(TPC-H Q5 shape)",
    oracle="""
SELECT n.n_name AS nation_name,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1996-12-31 00:00:00'
GROUP BY n.n_name
""",
)
def q5_region_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-12-31 00:00:00").cast("timestamp_ntz"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(revenue).cast("decimal(38,4)").cast("double").alias("revenue"))
    )


@register(
    "sessionize_events",
    survey="§2.10,W1",
    desc="gap-based sessionization (30 min inactivity) via lag + running "
    "session counter",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
               OR epoch_us(CAST(ts AS TIMESTAMP))
                  - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
numbered AS (
  SELECT user_id, event_id, ts, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # lag materialized ONCE (inlining it into the CASE makes WindowExec
    # evaluate the same lag twice); the running sum uses an explicit
    # ROWS frame — the (ts, event_id) ordering is unique, so ROWS and
    # the default RANGE frame agree, and ROWS skips per-row peer-group
    # detection in WindowExec.
    lagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("ts").over(w).alias("__prev_ts"),
    )
    flagged = lagged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        # µs-exact gap test (a seconds cast truncates and can disagree
        # with the oracle's exact interval compare at the boundary)
        F.when(
            F.col("__prev_ts").isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("__prev_ts").cast("timestamp"))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_rows).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        exact_sum("value", 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_SQL_EST_MATCHES = " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(16))


# shared by dedup_connected_clusters (one-shot) and
# dedup_incremental_clusters (two-day star-edge fold): the oracle is the
# one-shot transitive closure either way — for the incremental entry the
# hash match IS the incremental == one-shot theorem
_SQL_CC_CLUSTERS = f"""
WITH RECURSIVE sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
  WHERE ({_SQL_EST_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v
"""


@register(
    "dedup_connected_clusters",
    survey="LLM-dedup,J5",
    desc="transitive closure of MinHash near-dup pairs via iterative "
    "min-label propagation (driver loop like the trace executor); "
    "cluster_id = min member id; oracle is a recursive CTE",
    oracle=_SQL_CC_CLUSTERS,
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.clusters import connected_clusters
    from .llmdata.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)
    return connected_clusters(pairs)


@register(
    "dedup_incremental_clusters",
    survey="LLM-dedup (incremental cluster-assignment maintenance)",
    desc="two-day arrival of the SAME near-dup pair set: day-1 pairs "
    "(even id_a+id_b) converge to a (doc, cluster_id) assignment; "
    "day-2 pairs fold in through the star-edge certificate "
    "(incremental_connected_clusters — the assignment is its own edge "
    "set, the pair history is never revisited), including day-2 edges "
    "that MERGE day-1 clusters. The oracle recomputes the ONE-SHOT "
    "transitive closure over all pairs, so the hash match is exactly "
    "the incremental == one-shot claim",
    oracle=_SQL_CC_CLUSTERS,
)
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist
    from .llmdata.clusters import (
        connected_clusters,
        incremental_connected_clusters,
    )
    from .llmdata.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    # the pair relation feeds both day filters; persist so the
    # shingle->signature->band pipeline runs once
    pairs = tracked_persist(
        minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)
    )
    day1 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    day2 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 != 0)
    store = connected_clusters(day1)
    return incremental_connected_clusters(store, day2)


# ---------------------------------------------------------------------------
# ANN scale paths. Both bucketed approximations carry full DuckDB
# oracles: the bucketing math is deterministic — LSH bucket = sign bits
# of exact-decimal dot products against seed-derived plane literals
# (inlined into the SQL below); IVF assignment = exact-decimal argmin
# distance to a data-derived seed codebook (every ⌊n/k⌋-th vector,
# expressible in SQL). Lloyd-trained centroids are exercised in
# tests/test_ivf.py (training itself is iterative, not SQL).
# ---------------------------------------------------------------------------


def _sql_dot_dec(a: str, b: str) -> str:
    """Exact-decimal list dot product (DuckDB mirror of the
    similarity.dot_expr fold; order-insensitive, so engine-identical)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18))))"
    )


def _sql_dot_final(d: str) -> str:
    """round-to-9 + exact decimal→double, matching dot_expr's finish."""
    return f"CAST(CAST(round({d}, 9) AS DECIMAL(38,9)) AS DOUBLE)"


def _sql_cosine(v: str, q: str) -> str:
    return (
        f"{_sql_dot_final(_sql_dot_dec(v, q))}\n"
        f"         / (sqrt({_sql_dot_final(_sql_dot_dec(v, v))})\n"
        f"            * sqrt({_sql_dot_final(_sql_dot_dec(q, q))}))"
    )


def _sql_q_dist(a: str, b: str) -> str:
    """Fixed-point BIGINT squared L2 distance (mirror of pq._q_dist:
    floor(diff^2 * 2^24) per dim, summed; cast back from DuckDB's
    HUGEINT list_sum)."""
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(FLOOR((CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* 16777216.0) AS BIGINT))) AS BIGINT)"
    )


def _sql_sq_dist(a: str, b: str) -> str:
    """Exact-decimal squared L2 distance (mirror of ivf._sq_dist)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST((CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS DECIMAL(38,18))))"
    )


def _sql_lsh_bucket(vec: str, dim: int, n_planes: int, seed: int = 7) -> str:
    """LSH bucket id with the seed-derived hyperplanes inlined as SQL
    array literals — byte-identical plane values to similarity._planes
    (repr() round-trips float64 exactly)."""
    from .llmdata.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    terms = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        terms.append(
            f"(CASE WHEN {_sql_dot_dec(vec, lit)} >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + "\n       + ".join(terms) + ")"


def _sql_lsh_nplanes_cte(
    table: str = "embeddings",
    target: int = 128,
    min_planes: int = 2,
    max_planes: int = 16,
) -> str:
    """CTE body computing similarity.adaptive_n_planes over ``table`` in
    pure integer SQL: smallest p in [min,max] with target·2^p >= n."""
    return (
        f"SELECT COALESCE((SELECT MIN(p) FROM range({min_planes}, "
        f"{max_planes + 1}) t(p) WHERE {target} * (CAST(1 AS BIGINT) << p) "
        f">= (SELECT COUNT(*) FROM {table})), {max_planes}) AS n_planes"
    )


def _sql_lsh_bucket_adaptive(
    vec: str, dim: int, seed: int = 7, max_planes: int = 16
) -> str:
    """Masked adaptive LSH bucket: plane terms for max_planes, each
    gated on p < np.n_planes (the `np` CTE from _sql_lsh_nplanes_cte
    must be in scope). Because _planes draws row-major from one seeded
    stream, the first k of max_planes planes equal a k-plane draw — so
    masking here computes exactly the bucket Spark computes with the
    adaptively-chosen literal plane count."""
    from .llmdata.similarity import _planes

    planes = _planes(dim, max_planes, seed)
    terms = []
    for p in range(max_planes):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        terms.append(
            f"(CASE WHEN {p} < np.n_planes AND {_sql_dot_dec(vec, lit)} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + "\n       + ".join(terms) + ")"


@register(
    "ann_lsh_topk",
    survey="LLM-similarity",
    desc="hyperplane-LSH bucketed ANN top-10 with a SCALE-ADAPTIVE "
    "plane count (the per-query candidate set stays ~128 rows as the "
    "corpus grows, instead of n/2^p at fixed fan-out); bucket function "
    "+ within-bucket ranking oracle-checked; recall vs brute force "
    "additionally verified in pytest",
    oracle=f"""
WITH np AS ({_sql_lsh_nplanes_cte('embeddings')}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e, q, np
  WHERE {_sql_lsh_bucket_adaptive('e.embedding', dim=64)}
      = {_sql_lsh_bucket_adaptive('q.qv', dim=64)}
),
scored AS (
  SELECT c.vec_id,
         {_sql_cosine('c.embedding', 'q.qv')} AS cosine
  FROM cand c, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.similarity import lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return lsh_ann_topk(emb, qv, k=10, n_planes=None)


@register(
    "ann_ivf_topk",
    survey="LLM-similarity",
    desc="IVF ANN top-10 over a deterministic seed codebook (every "
    "⌊n/8⌋-th vector): exact-decimal argmin assignment, n_probe=2 "
    "nearest inverted lists scored (Lloyd training covered in pytest)",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
dists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS ivf_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
probes AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {_sql_sq_dist('cent.cv', 'q.qv')} ASC, cent.c ASC
  LIMIT 2
),
scored AS (
  SELECT a.vec_id,
         {_sql_cosine('a.embedding', 'q.qv')} AS cosine
  FROM assigned a, probes p, q
  WHERE a.ivf_cluster = p.c
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.ivf import build_ivf_index, ivf_ann_topk, seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    centroids = seed_centroids(emb, n_centroids=8)
    indexed = build_ivf_index(emb, centroids)
    return ivf_ann_topk(indexed, centroids, qv, k=10, n_probe=2)


def trained_ivf_oracle_sql(
    centroids, k: int = 10, n_probe: int = 2, query_vec_id: int = 0
) -> str:
    """DuckDB oracle for `ivf_ann_topk` over a TRAINED codebook: the
    k-means centroid matrix is inlined as list literals (repr() round-
    trips float64 exactly, same convention as `_sql_lsh_bucket`), so
    the trained path gets the identical hash-check the seed-codebook
    registry entry has — train → format SQL → DuckDB, at test time."""
    rows = ", ".join(
        "(" + str(c) + ", [" + ", ".join(repr(float(x)) for x in centroids[c]) + "])"
        for c in range(len(centroids))
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
cent(c, cv) AS (VALUES {rows}),
dists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS ivf_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
probes AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {_sql_sq_dist('cent.cv', 'q.qv')} ASC, cent.c ASC
  LIMIT {n_probe}
),
scored AS (
  SELECT a.vec_id,
         {_sql_cosine('a.embedding', 'q.qv')} AS cosine
  FROM assigned a, probes p, q
  WHERE a.ivf_cluster = p.c
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT {k}
"""


def pruned_assign_oracle_sql(
    centroids, dim: int, n_planes: int, seed: int = 7
) -> str:
    """DuckDB oracle for ivf.assign_cluster_pruned over an arbitrary
    (e.g. trained or large) codebook: centroids AND their driver-side
    LSH buckets are inlined as VALUES, vector buckets come from the
    exact-decimal bucket SQL (identical to similarity.lsh_bucket_col),
    candidates join on the bucket, argmin is exact-decimal with the
    c-ascending tiebreak, and bucket-miss rows fall back to -1-bucket —
    the generated-SQL counterpart of trained_ivf_oracle_sql for the
    hierarchical-assignment scale path."""
    import numpy as np

    from .llmdata.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    rows = []
    for c in range(len(centroids)):
        b = 0
        for p in range(n_planes):
            if float(np.dot(planes[p], centroids[c])) >= 0:
                b |= 1 << p
        vec = "[" + ", ".join(repr(float(x)) for x in centroids[c]) + "]"
        rows.append(f"({c}, {vec}, {b})")
    values = ", ".join(rows)
    return f"""
WITH cent(c, cv, b) AS (VALUES {values}),
v AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket('embedding', dim=dim, n_planes=n_planes, seed=seed)} AS vb
  FROM embeddings
),
d AS (
  SELECT v.vec_id, v.vb, cent.c,
         {_sql_sq_dist('v.embedding', 'cent.cv')} AS d
  FROM v JOIN cent ON cent.b = v.vb
),
best AS (
  SELECT vec_id, c
  FROM (SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM d)
  WHERE rn = 1
)
SELECT v.vec_id, CAST(COALESCE(best.c, -1 - v.vb) AS INT) AS sem_cluster
FROM v LEFT JOIN best USING (vec_id)
"""


@register(
    "dedup_embedding_lsh_blocked",
    survey="LLM-dedup,LLM-similarity",
    desc="embedding-cosine near-dup pairs blocked on a COMPUTED "
    "hyperplane-LSH bucket whose plane count ADAPTS to corpus size "
    "(smallest p with 128·2^p >= n — bucket occupancy, and so "
    "within-bucket pair work, stays bounded as the corpus grows), "
    "exact-decimal cosine; the oracle derives the identical plane "
    "count in integer SQL and masks a max-plane bucket expression",
    oracle=f"""
WITH np AS ({_sql_lsh_nplanes_cte('embeddings')}),
b AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64)} AS blk
  FROM embeddings, np
),
scored AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         {_sql_cosine('a.embedding', 'b2.embedding')} AS cosine
  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
""",
)
def dedup_embedding_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _dedup.embedding_dup_pairs(emb, threshold=0.3, dim=64)


@register(
    "dedup_embedding_multiprobe",
    survey="LLM-dedup,LLM-similarity (rotated-seed LSH union — the recall lever)",
    desc="embedding near-dup pairs as the UNION of hyperplane-LSH "
    "blocked joins over 3 rotated plane seeds: a pair is found if ANY "
    "seed co-buckets it (recall 1-(1-r)^3 for single-seed recall r), "
    "deduplicated before one exact-decimal re-score per surviving "
    "pair — the standard recall/cost dial for sign-LSH blocking; the "
    "plane count stays SCALE-ADAPTIVE per seed, so the union buys "
    "recall without reintroducing fixed fan-out",
    oracle=f"""
WITH np AS ({_sql_lsh_nplanes_cte('embeddings')}),
b7 AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64, seed=7)} AS blk
  FROM embeddings, np
),
b19 AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64, seed=19)} AS blk
  FROM embeddings, np
),
b41 AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64, seed=41)} AS blk
  FROM embeddings, np
),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b7 a JOIN b7 b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
  UNION
  SELECT a.vec_id, b2.vec_id
  FROM b19 a JOIN b19 b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
  UNION
  SELECT a.vec_id, b2.vec_id
  FROM b41 a JOIN b41 b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
),
scored AS (
  SELECT p.id_a, p.id_b,
         {_sql_cosine('ea.embedding', 'eb.embedding')} AS cosine
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.id_a
  JOIN embeddings eb ON eb.vec_id = p.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
""",
)
def dedup_embedding_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _dedup.embedding_dup_pairs(
        emb, threshold=0.3, dim=64, seeds=(7, 19, 41)
    )


_MINHASH_MATCHES_SQL = " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(16))


@register(
    "dedup_incremental_minhash",
    survey="LLM-dedup (incremental cross-day dedup against a persisted band store)",
    desc="two-day arrival simulation of the production dedup story: "
    "even doc_ids land on day 1 and their minhash band store is "
    "persisted; day 2's odd-id batch is shingled/hashed alone and "
    "joined against the store on (band_idx, band_key) — daily cost is "
    "O(|batch|) hashing + one bucket join, never a corpus rescan. "
    "Pairs are (new_id, stored_id, est_jaccard >= 0.5); the md5 hash "
    "family makes today's signatures bit-comparable with yesterday's",
    oracle=f"""
WITH sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL
  SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL
  SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL
  SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc % 2 = 1 AND b.doc % 2 = 0
)
SELECT c.id_a, c.id_b,
       ({_MINHASH_MATCHES_SQL}) / 16.0 AS est_jaccard
FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
WHERE ({_MINHASH_MATCHES_SQL}) / 16.0 >= 0.5
""",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    day1 = docs.filter(F.col("doc_id") % 2 == 0)
    day2 = docs.filter(F.col("doc_id") % 2 == 1)
    store = _dedup.minhash_band_store(day1)
    pairs, _updated = _dedup.incremental_minhash_dedup(day2, store)
    return pairs


@register(
    "embedding_quantize_int8",
    survey="LLM-similarity (vector-store prep: affine int8 quantization + error audit)",
    desc="per-dimension affine int8 quantization of the embedding "
    "column (corpus min/max per dim -> 0..255 codes) with a per-vector "
    "reconstruction-error audit: sum(code) integrity checksum and max "
    "|x̂-x| in 2^-20 fixed point — every step is a single IEEE op or an "
    "exact integer, so codes and error are bit-identical across "
    "engines; one 64-group range agg + broadcast-back + per-vector agg",
    oracle="""
WITH ex AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
rng AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY dim),
codes AS (
  SELECT e.vec_id,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE GREATEST(0, LEAST(255,
                   CAST(floor((e.x - r.lo) * 255.0 / (r.hi - r.lo) + 0.5)
                        AS BIGINT))) END AS code,
         e.x, r.lo, r.hi
  FROM ex e JOIN rng r USING (dim)
),
errs AS (
  SELECT vec_id, code,
         CAST(floor(abs(lo + code * (hi - lo) / 255.0 - x) * 1048576.0)
              AS BIGINT) AS err_q20
  FROM codes
)
SELECT vec_id,
       COUNT(*) AS n_dims,
       CAST(SUM(code) AS BIGINT) AS sum_code,
       MAX(err_q20) AS max_err_q20
FROM errs GROUP BY vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.similarity import quantize_embeddings_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings_int8(emb)


@register(
    "text_bigram_fluency",
    survey="LLM-text (bigram-LM fluency scoring, integer-portable)",
    desc="mean corpus conditional probability p(w2|w1) over each "
    "document's consecutive token pairs — the LM-fluency quality "
    "signal next to rarity (tokens) and repetition (self-similarity); "
    "probabilities quantized 2^-20 by pure integer arithmetic "
    "((c12·2^20) div c1) and summed as exact BIGINTs, one final IEEE "
    "division — no log(), no float sums, bit-identical across engines. "
    "Docs with < 2 tokens have no bigrams and are excluded",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(range(1, len({_SQL_TOKS}) + 1)) - 1 AS pos,
         unnest({_SQL_TOKS}) AS w1
  FROM documents
),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, w1,
           lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
  ) WHERE w2 IS NOT NULL
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
scored AS (
  SELECT b.doc_id, (c.c12 * 1048576) // p.c1 AS p_q20
  FROM big b JOIN c12 c USING (w1, w2) JOIN c1 p USING (w1)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(p_q20) AS BIGINT) AS sum_p_q20,
       CAST(SUM(p_q20) AS DOUBLE) / CAST(COUNT(*) * 1048576 AS DOUBLE)
         AS mean_prob
FROM scored GROUP BY doc_id
""",
)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.text import bigram_fluency_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_fluency_scores(docs)


@register(
    "ann_knn_join",
    survey="LLM-similarity (kNN JOIN: per-vector top-k neighbors, LSH-bucketed)",
    desc="every vector's top-3 cosine neighbors from within its "
    "adaptive-plane LSH bucket — the all-rows twin of ann_lsh_topk and "
    "the hard-negative-mining / cluster-seeding primitive; exact-"
    "decimal cosine ranking with id tiebreak makes the selected top-k "
    "set deterministic; within-bucket pairs only, never all-pairs",
    oracle=f"""
WITH np AS ({_sql_lsh_nplanes_cte('embeddings')}),
b AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64)} AS blk
  FROM embeddings, np
),
scored AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         {_sql_cosine('a.embedding', 'b2.embedding')} AS cosine
  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id <> b2.vec_id
),
ranked AS (
  SELECT id_a, id_b, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                                 ORDER BY cosine DESC, id_b ASC) AS BIGINT)
           AS rank
  FROM scored
)
SELECT id_a, rank, id_b, cosine FROM ranked WHERE rank <= 3
""",
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.similarity import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_lsh(emb, k=3, dim=64)


@register(
    "multimodal_crossmodal_knn",
    survey="LLM-multimodal,LLM-similarity (cross-modal retrieval: "
    "text→image kNN over a shared embedding space)",
    desc="each caption vector's top-3 cosine neighbors among IMAGE "
    "vectors sharing its LSH bucket (CLIP-style retrieval over one "
    "shared space: even vec_ids model the caption/text modality, odd "
    "the pixel-feature modality — the deterministic modality split of "
    "the shared-space fixture). Asymmetric probe-vs-index join: plane "
    "count adapts to the INDEX size, the probe side never matches "
    "itself, exact-decimal re-ranking with id tiebreak keeps the "
    "selected top-k set engine-independent — completes the multimodal "
    "family's query side next to its dedup side (r14 verdict stretch "
    "#7)",
    oracle=f"""
WITH img AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
cap AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
np AS ({_sql_lsh_nplanes_cte('img')}),
bi AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64)} AS blk
  FROM img, np
),
bc AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket_adaptive('embedding', dim=64)} AS blk
  FROM cap, np
),
scored AS (
  SELECT c.vec_id AS id_a, i.vec_id AS id_b,
         {_sql_cosine('c.embedding', 'i.embedding')} AS cosine
  FROM bc c JOIN bi i ON c.blk = i.blk
),
ranked AS (
  SELECT id_a, id_b, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                                 ORDER BY cosine DESC, id_b ASC) AS BIGINT)
           AS rank
  FROM scored
)
SELECT id_a, rank, id_b, cosine FROM ranked WHERE rank <= 3
""",
)
def multimodal_crossmodal_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.similarity import crossmodal_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    captions = emb.filter(F.col("vec_id") % 2 == 0)
    images = emb.filter(F.col("vec_id") % 2 == 1)
    return crossmodal_knn_join(captions, images, k=3, dim=64)


@register(
    "pack_split_straddlers",
    survey="LLM-packing (token-level chunking of bin-crossing documents)",
    desc="completes the packing story: every document's token span is "
    "cut at its pack's 2048-token bin boundaries, emitting one chunk "
    "row per (doc, covered bin) with the doc-relative slice and the "
    "offset inside the bin — the exact relation a tensorizing data "
    "loader consumes; pure integer arithmetic, one explode over the "
    "bins each doc covers",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM t
),
bins AS (
  SELECT doc_id, shard, cum, n_tokens,
         unnest(range(cum // 2048, (cum + n_tokens - 1) // 2048 + 1))
           AS pack_id
  FROM c WHERE n_tokens > 0
)
SELECT doc_id,
       CAST(shard AS BIGINT) AS shard,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(GREATEST(cum, pack_id * 2048) - cum AS BIGINT) AS slice_start,
       CAST(LEAST(cum + n_tokens, (pack_id + 1) * 2048)
            - GREATEST(cum, pack_id * 2048) AS BIGINT) AS slice_len,
       CAST(GREATEST(cum, pack_id * 2048) - pack_id * 2048 AS BIGINT)
         AS bin_offset
FROM bins
""",
)
def pack_split_straddlers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.packing import assign_packs, split_straddlers

    docs = load_table(spark, sf_dir, "documents")
    return split_straddlers(assign_packs(docs, budget=2048, n_shards=8), budget=2048)


@register(
    "corpus_shuffle_shards",
    survey="LLM-sampling (deterministic epoch shuffle into training shards)",
    desc="reproducible corpus shuffle: shard from the first two md5 "
    "nibbles of (id || salt), position = per-shard hash rank — the "
    "training-order primitive (re-salt for the next epoch's "
    "independent order), identical across runs/engines/retries where "
    "rand() is neither; per-shard windows only, never a global sort",
    oracle="""
WITH h AS (
  SELECT doc_id,
         md5(concat(CAST(doc_id AS VARCHAR), 'ep0')) AS hh
  FROM documents
),
s AS (
  SELECT doc_id, hh,
         CAST(((instr('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16
               + (instr('0123456789abcdef', substr(hh, 2, 1)) - 1)) % 8
           AS BIGINT) AS shard
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
            AS BIGINT) AS pos
FROM s
""",
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shards(docs, n_shards=8, salt="ep0")


# ---------------------------------------------------------------------------
# Training-data pipeline: reproducible sampling/splits + sequence packing
# ---------------------------------------------------------------------------


@register(
    "sample_hash_split",
    survey="LLM-sampling",
    desc="deterministic hash-banded train/val/test split keyed on "
    "document identity (md5-prefix thresholds — reproducible across "
    "runs, retries and engines, unlike rand() sampling)",
    oracle="""
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0c' THEN 'val'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
            ELSE 'train' END AS split
FROM documents
""",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _sampling.hash_split(docs, "doc_id").select("doc_id", "split")


@register(
    "pack_sequences",
    survey="LLM-packing",
    desc="greedy contiguous sequence packing into 2048-token bins, "
    "sharded so the ordered window never serializes globally "
    "(per-shard running sum; straddlers split downstream)",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM t
)
SELECT doc_id, shard, n_tokens,
       CAST(cum_before // 2048 AS BIGINT) AS pack_id,
       CAST(cum_before % 2048 AS BIGINT) AS pack_offset
FROM c
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _packing.assign_packs(docs, budget=2048, n_shards=8)


@register(
    "dedup_simhash_pairs",
    survey="LLM-dedup",
    desc="SimHash near-dup pairs (hamming <= 3) via pigeonhole 8-bit "
    "block index + exact xor-popcount filter",
    oracle="""
WITH tf AS (
  SELECT doc_id AS doc, token, COUNT(*) AS w, substr(md5(token), 1, 8) AS h
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents)
  GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
),
fp AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc
),
blocks AS (
  SELECT doc, simhash, bi, (simhash >> (bi * 8)) & 255 AS bv
  FROM fp, unnest(range(0, 4)) AS u(bi)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
                  a.simhash AS fp_a, b.simhash AS fp_b
  FROM blocks a JOIN blocks b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc < b.doc
)
SELECT id_a, id_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.dedup import simhash_fingerprints, simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, bits=32)
    return simhash_near_pairs(fp, max_hamming=3, bits=32)


@register(
    "dedup_simhash_pairs_capped",
    survey="LLM-dedup (hot-bucket-capped SimHash pigeonhole, r15 verdict)",
    desc="SimHash near-dup pairs with max_bucket=8: pigeonhole buckets "
    "over the cap collapse to one pair-generating representative per "
    "FULL fingerprint plus linear rep->member star pairs at exact "
    "hamming 0 (identical fingerprints ARE hamming 0 — the collapse "
    "is lossless by identity, unlike the minhash sibling's "
    "threshold-clearing 1.0). Bounds a degenerate bucket's candidates "
    "at (#fingerprints)^2 + h instead of h^2 — 1M re-encodes of one "
    "image at 100 TB is the case pigeonhole WIDTH cannot split. "
    "max_bucket=8 BINDS on the fixture (buckets up to 97 and "
    "identical-fingerprint groups of 2-3 exist at sf0.01), so the "
    "oracle checks the rep/star collapse semantics themselves; "
    "CC/survivor equivalence to the uncapped form is pinned by "
    "test_simhash_max_bucket_bounds_megacluster",
    oracle="""
WITH tf AS (
  SELECT doc_id AS doc, token, COUNT(*) AS w, substr(md5(token), 1, 8) AS h
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents)
  GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
),
fp AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc
),
blocks AS (
  SELECT doc, simhash, bi, (simhash >> (bi * 8)) & 255 AS bv
  FROM fp, unnest(range(0, 4)) AS u(bi)
),
counts AS (
  SELECT bi, bv, COUNT(*) AS n FROM blocks GROUP BY 1, 2
),
marked AS (
  SELECT b.doc, b.simhash, b.bi, b.bv, (c.n > 8) AS big
  FROM blocks b JOIN counts c USING (bi, bv)
),
gen AS (
  SELECT doc, simhash, bi, bv FROM marked WHERE NOT big
  UNION ALL
  SELECT MIN(doc) AS doc, simhash, bi, bv
  FROM marked WHERE big GROUP BY simhash, bi, bv
),
members AS (SELECT DISTINCT simhash, doc FROM marked WHERE big),
grp AS (SELECT simhash, MIN(doc) AS rep FROM members GROUP BY simhash),
cand AS (
  SELECT DISTINCT id_a, id_b, fp_a, fp_b FROM (
    SELECT a.doc AS id_a, b.doc AS id_b,
           a.simhash AS fp_a, b.simhash AS fp_b
    FROM gen a JOIN gen b
      ON a.bi = b.bi AND a.bv = b.bv AND a.doc < b.doc
    UNION ALL
    SELECT g.rep, m.doc, m.simhash, m.simhash
    FROM members m JOIN grp g USING (simhash)
    WHERE m.doc <> g.rep
  )
)
SELECT id_a, id_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
""",
)
def dedup_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.dedup import simhash_fingerprints, simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, bits=32)
    return simhash_near_pairs(fp, max_hamming=3, bits=32, max_bucket=8)


# ---------------------------------------------------------------------------
# OLAP pattern coverage: as-of join, top-k per group, pivot, cube
# ---------------------------------------------------------------------------


@register(
    "asof_last_purchase",
    survey="custom-op (as-of join)",
    desc="backward as-of join: each view event matched to the user's "
    "latest prior purchase (union + last-value window composition; "
    "oracle uses DuckDB's native ASOF JOIN)",
    oracle="""
WITH views AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'view'
),
purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         MAX(event_id) AS p_event_id
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT v.event_id, v.user_id, v.ts, v.value,
       p.p_event_id AS matched_p_event_id,
       p.ts AS matched_p_ts
FROM views v
ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts >= p.ts
""",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("p_event_id"))
        .select("user_id", F.col("ts").alias("p_ts"), "p_event_id")
    )
    return asof_join_backward(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        payload_cols=["p_event_id", "p_ts"],
    )


@register(
    "topk_per_group",
    survey="W2,O1 (top-k per group)",
    desc="top-3 lines per supplier by price with deterministic tiebreak "
    "(window row_number <= k)",
    oracle="""
SELECT supp_key, order_key, line_number, price_usd, rk
FROM (
  SELECT l_suppkey AS supp_key, l_orderkey AS order_key,
         l_linenumber AS line_number, l_extendedprice AS price_usd,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS BIGINT) AS rk
  FROM lineitem
)
WHERE rk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.select(
            F.col("l_suppkey").alias("supp_key"),
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            F.col("l_extendedprice").alias("price_usd"),
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "pivot_status_qty",
    survey="pivot",
    desc="pivot linestatus into columns of quantity sums (oracle uses "
    "FILTER aggregates — the engine-portable pivot form)",
    oracle="""
SELECT l_returnflag AS return_flag,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_linestatus = 'O'), 0) AS DOUBLE) AS qty_open,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_linestatus = 'F'), 0) AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec0 = F.lit(0).cast("decimal(18,2)")
    pivoted = (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity", 2)))
    )
    return pivoted.select(
        "return_flag",
        F.coalesce(F.col("O"), dec0).cast("double").alias("qty_open"),
        F.coalesce(F.col("F"), dec0).cast("double").alias("qty_filled"),
    )


@register(
    "cube_flag_status",
    survey="cube/rollup",
    desc="CUBE over (returnflag, linestatus): all grouping-set subtotals "
    "with NULL markers for rolled-up dimensions",
    oracle="""
SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
        )
        .agg(
            exact_sum("l_quantity", 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "range_join_error_purchase",
    survey="custom-op (range join)",
    desc="interval join: error events paired with same-user purchases "
    "within +/-10 minutes, via bucketized equi-join (no nested-loop)",
    oracle="""
SELECT e.event_id AS error_id, p.event_id AS purchase_id, e.user_id,
       CAST(e.ts AS TIMESTAMP) AS error_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND abs(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP)))
     <= 600000000
""",
)
def range_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.range_join import interval_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join(
        errors.withColumnRenamed("user_id", "k"),
        purchases.withColumnRenamed("p_user_id", "k"),
        on="k",
        left_ts="error_ts",
        right_ts="purchase_ts",
        tolerance_secs=600,
    )
    return joined.select(
        "error_id", "purchase_id", F.col("k").alias("user_id"),
        "error_ts", "purchase_ts",
    )


@register(
    "unpivot_totals",
    survey="unpivot",
    desc="unpivot wide unit columns into (unit, amount) rows via stack()",
    oracle="""
SELECT o_orderkey AS order_key, u.unit, u.amount
FROM orders,
     LATERAL (VALUES ('total', o_totalprice),
                     ('total_half', o_totalprice / 2.0)) AS u(unit, amount)
WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
""",
)
def unpivot_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz")
    )
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.expr(
            "stack(2, 'total', o_totalprice, 'total_half', o_totalprice / 2.0) "
            "AS (unit, amount)"
        ),
    )


# ---------------------------------------------------------------------------
# Join-shape breadth: semi-join, anti-join, conditional aggregation, and
# selective filter-aggregates (TPC-H Q4/Q6/Q10/Q12 shapes). These widen the
# engine beyond the reference's own query list so a user can run the full
# TPC-H-style interactive repertoire on the same tables.
# ---------------------------------------------------------------------------


@register(
    "q6_selective_revenue",
    survey="A1,P8 (TPC-H Q6 shape)",
    desc="highly-selective filter + single exact-decimal aggregate; the "
    "whole query is one scan with every predicate pushed to parquet "
    "(no shuffle beyond the final partial-agg merge)",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(38,6)) AS DOUBLE) AS discounted_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_selective_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # 2dp x 4dp product is exactly 6dp: the DECIMAL(38,6) cast drops only
    # guaranteed-zero digits and the final double cast stays within 2^53.
    product = _dec("l_extendedprice", 2).cast("decimal(12,2)") * _dec(
        "l_discount", 4
    ).cast("decimal(6,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(product).cast("decimal(38,6)").cast("double").alias("discounted_revenue"))
    )


@register(
    "j6_exists_priority",
    survey="J-semi (TPC-H Q4 shape)",
    desc="EXISTS-correlated subquery as a LEFT SEMI join: orders in a date "
    "range having at least one returned line, counted per priority. The "
    "semi-join never materializes lineitem columns, so the shuffle carries "
    "only the join key",
    oracle="""
SELECT o.o_orderpriority AS order_priority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
""",
)
def j6_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "j7_anti_inactive_customers",
    survey="J-anti",
    desc="NOT EXISTS as a LEFT ANTI join: customers with no order since "
    "2001-01-01 (churn list). Anti-join shuffles only the key column of "
    "the probe side",
    oracle="""
SELECT c.c_custkey AS cust_key, c.c_name AS cust_name,
       c.c_mktsegment AS segment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
""",
)
def j7_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )


@register(
    "q10_returned_revenue",
    survey="J1,J4,A1,O2 (TPC-H Q10 shape)",
    desc="returned-item revenue per customer: fact-fact join with two "
    "broadcast dims, grouped exact-decimal revenue, deterministic top-20",
    oracle="""
SELECT c.c_custkey AS cust_key, c.c_name AS cust_name,
       n.n_name AS nation_name, c.c_acctbal AS acct_balance,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, cust_key ASC
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
            F.col("c_acctbal").alias("acct_balance"),
        )
        .agg(F.sum(revenue).cast("decimal(38,4)").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("cust_key"))
        .limit(20)
    )


@register(
    "q12_priority_by_status",
    survey="A1,P6 (TPC-H Q12 shape)",
    desc="conditional aggregation: high/low-priority line counts per "
    "linestatus via CASE inside SUM (single shuffle, map-side partials)",
    oracle="""
SELECT l.l_linestatus AS line_status,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("line_status"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic sketching, semi-structured extraction, and the remaining
# LLM-text operators (repetition filters, PII scrubbing)
# ---------------------------------------------------------------------------


@register(
    "sketch_kmv_distinct",
    survey="A2 (scale path)",
    desc="k-minimum-values cardinality sketch over lineitem part keys: "
    "deterministic (md5-derived 60-bit hashes) so — unlike HLL++ — it is "
    "oracle-checkable bit-exactly; each partition forwards at most k "
    "hashes to the merge",
    oracle="""
WITH h AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM lineitem
  WHERE l_partkey IS NOT NULL
),
mins AS (SELECT hv FROM h ORDER BY hv ASC LIMIT 64)
SELECT CAST(COUNT(*) AS BIGINT) AS n_taken,
       MAX(hv) AS kth_min_hash,
       CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
            ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(hv) AS DOUBLE)
       END AS distinct_estimate
FROM mins
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_partkey", k=64)


_HLL_C = 1.7013287633207432e21  # alpha_1024 * 1024^2 * 2^51 (approx._hll_constant(10))


@register(
    "sketch_hll_distinct",
    survey="A2 (scale path, fixed-memory register variant)",
    desc="HyperLogLog distinct count over lineitem part keys: 1024 "
    "registers (bucket = top 10 bits of the shared 60-bit md5 hash, "
    "rank = first-1-bit position of the rest via minimal-binary-string "
    "length — integer-exact, no log2), harmonic sum kept as the EXACT "
    "scaled BIGINT sum(2^(51-r)) so the only float step is one "
    "division of a fixed double literal — bit-portable where "
    "engine-native HLL++ is not. raw_estimate uncorrected; the "
    "(m, zero_registers) sufficient statistics for the libm-variant "
    "small-range correction ride the row. Register-wise max merge is "
    "idempotent (the KMV replay-safety class, unlike CMS cell sums)",
    oracle=f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM lineitem
  WHERE l_partkey IS NOT NULL
),
regs AS (
  SELECT hv >> 50 AS bucket,
         MAX(CASE WHEN (hv & ((1::BIGINT << 50) - 1)) = 0 THEN 51
             ELSE 51 - length(bin(hv & ((1::BIGINT << 50) - 1))) END) AS r
  FROM h GROUP BY 1
),
agg AS (
  SELECT COUNT(*) AS n_present,
         CAST(SUM(1::BIGINT << (51 - r)) AS BIGINT) AS s_present
  FROM regs
)
SELECT CAST(1024 AS BIGINT) AS m,
       CAST(1024 - n_present AS BIGINT) AS zero_registers,
       CAST(s_present + (1024 - n_present) * (1::BIGINT << 51) AS BIGINT)
         AS s_scaled,
       {_HLL_C!r} / CAST(s_present + (1024 - n_present) * (1::BIGINT << 51)
                         AS DOUBLE) AS raw_estimate,
       ({_HLL_C!r} / CAST(s_present + (1024 - n_present) * (1::BIGINT << 51)
                          AS DOUBLE) <= 2560.0
        AND (1024 - n_present) > 0) AS use_linear_counting
FROM agg
""",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return hll_distinct(li, "l_partkey", p=10)


@register(
    "sketch_kmv_grouped",
    survey="A2 (scale path, per-dimension)",
    desc="per-GROUP k-minimum-values cardinality sketch: distinct "
    "users per event type at O(groups x k) state — the dashboard's "
    "per-dimension A2 shape without an exact per-group distinct. One "
    "(g, hash)-distinct shuffle, then a TWO-LEVEL min-k cut: level 1 "
    "prunes within (g, hv % 16) across 16 parallel windows per group, "
    "level 2 cuts the surviving 16k rows per group — identical to the "
    "direct cut by min-k-union losslessness (the oracle computes the "
    "direct form), but a hot group's sort is bounded by its salt "
    "share instead of its full distinct count; same deterministic "
    "md5-derived 60-bit estimator and exact-below-k degeneration as "
    "sketch_kmv_distinct, same lossless merge via "
    "kmv_merge_mins_grouped",
    oracle="""
WITH h AS (
  SELECT DISTINCT event_type AS g,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
  WHERE user_id IS NOT NULL
),
mins AS (
  SELECT g, hv
  FROM (SELECT g, hv,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv ASC) AS rn
        FROM h)
  WHERE rn <= 32
)
SELECT g AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_taken,
       MAX(hv) AS kth_min_hash,
       CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
            ELSE 31.0 * 1152921504606846976.0 / CAST(MAX(hv) AS DOUBLE)
       END AS distinct_estimate
FROM mins GROUP BY g
""",
)
def sketch_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_distinct_grouped

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct_grouped(ev, "event_type", "user_id", k=32)


@register(
    "sketch_cms_grouped_topk",
    survey="LLM-sketch (per-dimension count-min heavy hitters)",
    desc="per-GROUP count-min heavy hitters: top-5 user_ids per event "
    "type by min-over-depth point estimate from a (g, row, col, cnt) "
    "grouped sketch — the frequency half of the per-dimension "
    "dashboard pair (sketch_kmv_grouped is the cardinality half). "
    "O(groups x 4 x 256) state from ONE map-combined hash-agg (no "
    "sort, no hot-group single-task hazard: a group with ~all events "
    "still occupies exactly depth x width cells); estimation joins on "
    "(g, col) per depth row, never broadcast; pure int64 arithmetic, "
    "bit-exact across engines, never under-counts",
    oracle="""
WITH ev AS (
  SELECT event_type AS g, CAST(user_id AS BIGINT) AS k FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
params(i, a, b) AS (VALUES (0, 3, 17), (1, 1299709, 104729),
                           (2, 15485863, 32452843), (3, 49979687, 86028121)),
cells AS (
  SELECT e.g, p.i AS row_id,
         ((p.a * (((e.k % 1000000007) + 1000000007) % 1000000007) + p.b)
          % 1000000007) % 256 AS col_id,
         COUNT(*) AS cnt
  FROM ev e CROSS JOIN params p
  GROUP BY 1, 2, 3
),
keys AS (SELECT DISTINCT g, k FROM ev),
est AS (
  SELECT keys.g, keys.k AS user_id, MIN(c.cnt) AS est_count
  FROM keys CROSS JOIN params p
  JOIN cells c
    ON c.g = keys.g AND c.row_id = p.i
   AND c.col_id = ((p.a * (((keys.k % 1000000007) + 1000000007)
                           % 1000000007) + p.b) % 1000000007) % 256
  GROUP BY 1, 2
),
ranked AS (
  SELECT g AS event_type, user_id, est_count,
         CAST(ROW_NUMBER() OVER (PARTITION BY g
              ORDER BY est_count DESC, user_id ASC) AS BIGINT) AS rank
  FROM est
)
SELECT event_type, rank, user_id, est_count FROM ranked WHERE rank <= 5
""",
)
def sketch_cms_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import cms_build_grouped, cms_estimate_grouped

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    )
    sketch = cms_build_grouped(ev, "event_type", "user_id", width=256)
    est = cms_estimate_grouped(
        sketch, ev.distinct(), "event_type", "user_id", width=256
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("est_count"), F.asc("user_id")
    )
    return (
        est.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("event_type", "rank", "user_id", "est_count")
    )


@register(
    "sketch_cms_grouped_served",
    survey="LLM-sketch (grouped-CMS dashboard serving probe, r15 "
    "verdict stretch #8)",
    desc="grouped-CMS SERVING shape: point estimates for a FIXED probe "
    "key set (the 3 globally most-active users) across EVERY event "
    "type — the dashboard's 'how often did user X do each action' "
    "read against the sketch relation. Unlike sketch_cms_grouped_topk "
    "(which probes only keys present in each group), the cross-group "
    "probe hits (group, key) cells the group never touched, so the "
    "sparse-zero LEFT-join path (untouched cell = COALESCE 0, "
    "min-over-depth may floor at a collision count but never "
    "under-counts) is driver-oracle-checked, not just pytest-pinned",
    oracle="""
WITH ev AS (
  SELECT event_type AS g, CAST(user_id AS BIGINT) AS k FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
params(i, a, b) AS (VALUES (0, 3, 17), (1, 1299709, 104729),
                           (2, 15485863, 32452843), (3, 49979687, 86028121)),
cells AS (
  SELECT e.g, p.i AS row_id,
         ((p.a * (((e.k % 1000000007) + 1000000007) % 1000000007) + p.b)
          % 1000000007) % 256 AS col_id,
         COUNT(*) AS cnt
  FROM ev e CROSS JOIN params p
  GROUP BY 1, 2, 3
),
top_users AS (
  SELECT k FROM (SELECT k, COUNT(*) AS c FROM ev GROUP BY k)
  ORDER BY c DESC, k ASC LIMIT 3
),
probes AS (
  SELECT grp.g, t.k FROM (SELECT DISTINCT g FROM ev) grp
  CROSS JOIN top_users t
),
est AS (
  SELECT p.g, p.k, MIN(COALESCE(c.cnt, 0)) AS est_count
  FROM probes p CROSS JOIN params pr
  LEFT JOIN cells c
    ON c.g = p.g AND c.row_id = pr.i
   AND c.col_id = ((pr.a * (((p.k % 1000000007) + 1000000007)
                            % 1000000007) + pr.b) % 1000000007) % 256
  GROUP BY 1, 2
)
SELECT g AS event_type, k AS user_id, CAST(est_count AS BIGINT) AS est_count
FROM est
""",
)
def sketch_cms_grouped_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import cms_build_grouped, cms_estimate_grouped

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("user_id").cast("bigint").alias("user_id"))
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    )
    sketch = cms_build_grouped(ev, "event_type", "user_id", width=256)
    top_users = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("user_id"))
        .limit(3)
        .select("user_id")
    )
    probes = ev.select("event_type").distinct().crossJoin(top_users)
    return cms_estimate_grouped(
        sketch, probes, "event_type", "user_id", width=256
    )


@register(
    "json_extract_props",
    survey="P11 (semi-structured)",
    desc="JSON path extraction from the events property bag + grouped "
    "rollup; the extraction is a scan-side expression so predicate/column "
    "pruning still reach parquet",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k_bucket = F.get_json_object(F.col("props"), "$.k").cast("bigint") % 10
    return ev.groupBy(k_bucket.alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", 2).alias("total_value"),
    )


@register(
    "text_repetition",
    survey="LLM-text",
    desc="Gopher-style repetition filters: duplicate-word / top-word / "
    "duplicate-bigram fractions per document (pure Column expressions, "
    "no shuffle)",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
         list_max(list_transform(list_distinct(toks),
                  w -> len(list_filter(toks, x -> x = w)))) AS topc,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST(nd AS BIGINT) AS n_distinct_words,
       CASE WHEN n > 0 THEN CAST(n - nd AS DOUBLE) / n ELSE 0.0 END AS dup_word_ratio,
       CASE WHEN n > 0 THEN CAST(topc AS DOUBLE) / n ELSE 0.0 END AS top_word_ratio,
       CASE WHEN len(grams) > 0
            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
            ELSE 0.0 END AS dup_bigram_ratio
FROM s
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.repetition_stats(docs)


@register(
    "pii_scrub_props",
    survey="LLM-text (PII)",
    desc="PII redaction over the events property bag: emails and "
    "multi-digit runs replaced with typed placeholders, with audit "
    "counts (regex subset common to Java regex and RE2)",
    oracle="""
SELECT event_id,
       regexp_replace(regexp_replace(props,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{2,}', '<NUM>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(props,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_numbers
FROM events
""",
)
def pii_scrub_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _text.pii_scrub(ev, text_col="props", id_col="event_id")


@register(
    "w3_value_deltas",
    survey="W1,W2 (lag/lead)",
    desc="LAG over a per-user event sequence: consecutive value deltas "
    "with a total ordering (ts, event_id) so the frame is deterministic; "
    "pass-through double subtraction is exact cross-engine",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_delta
FROM events
""",
)
def w3_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    )


@register(
    "cohort_retention",
    survey="A1,W1 (cohort analysis)",
    desc="retention matrix: first-seen-day cohort x day offset -> distinct "
    "active users. The Spark plan derives first_ts with a window min over "
    "the same user partitioning the groupBy reuses (one shuffle, no "
    "self-join); the oracle spells it as the equivalent join",
    oracle="""
WITH firstday AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
  FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('day', f.first_ts) AS DATE) AS cohort_day,
       CAST(date_diff('day', CAST(date_trunc('day', f.first_ts) AS DATE),
                      CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS DATE)) AS BIGINT)
         AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_active
FROM events e JOIN firstday f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohort_day = F.date_trunc("day", F.min("ts").over(w)).cast("date")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    return (
        ev.select(
            "user_id",
            cohort_day.alias("cohort_day"),
            F.datediff(day, cohort_day).cast("bigint").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "histogram_value",
    survey="A1 (binned agg)",
    desc="fixed-width histogram of event values: floor-bucketed counts + "
    "exact-decimal mass per bin (single partial-agg shuffle)",
    oracle="""
SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("bigint")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", 2).alias("total_value"),
    )


@register(
    "quantiles_by_type",
    survey="A3 (exact quantiles)",
    desc="exact grouped percentiles (median/p90/p99): both engines use "
    "(n-1)*p linear interpolation in double, so values are bit-exact. "
    "Exact percentile sorts within each group; operators/approx.py holds "
    "the sketch form (percentile_approx) that is the 100 TB path",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events
GROUP BY event_type
""",
)
def quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@register(
    "centroid_by_bucket",
    survey="LLM-similarity (vector aggregate)",
    desc="per-LSH-bucket embedding centroids in long format: posexplode "
    "to (bucket, dim, value) then one hash-agg shuffle; 2^-20 fixed-point "
    "quantization makes the distributed mean an exact integer sum "
    "(codebook construction without collect or UDF)",
    oracle=f"""
WITH b AS (
  SELECT embedding, {_sql_lsh_bucket('embedding', dim=64, n_planes=4)} AS bucket
  FROM embeddings
)
SELECT bucket, CAST(g.i - 1 AS BIGINT) AS dim,
       CAST(SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 1048576.0) AS centroid_val,
       COUNT(*) AS n_vectors
FROM b, UNNEST(generate_series(1, 64)) AS g(i)
GROUP BY 1, 2
""",
)
def centroid_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _sim.bucket_centroids(emb, n_planes=4, seed=7)


@register(
    "sample_stratified_lang",
    survey="LLM-sampling (stratified)",
    desc="deterministic stratified sampling: per-language hash-prefix "
    "thresholds downsample dominant languages and keep rare ones whole "
    "(corpus rebalancing reproducible across runs, retries, engines)",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'en' THEN '40'
                WHEN 'fr' THEN '80'
                WHEN 'es' THEN '80'
                WHEN 'de' THEN 'ff'
                WHEN 'zh' THEN 'ff'
                ELSE '00' END
""",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = _sampling.stratified_sample(
        docs,
        strata_col="lang",
        thresholds={"en": "40", "fr": "80", "es": "80", "de": "ff", "zh": "ff"},
        id_col="doc_id",
    )
    return sampled.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Correlated / scalar-subquery join patterns (TPC-H q11/q13/q17/q22 shapes)
# ---------------------------------------------------------------------------


@register(
    "q13_order_count_distribution",
    survey="J3,A1 (two-level aggregate)",
    desc="TPC-H-Q13 shape: customers left-joined to filtered orders, "
    "orders-per-customer counted, then the distribution of those counts. "
    "Two chained hash-aggs; the second groups on a tiny key domain so "
    "the shuffle after the first agg is the only full-size exchange",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    survey="J1,A3 (agg-back-join)",
    desc="TPC-H-Q17 shape: per-part average quantity computed once and "
    "joined back to filter rows below 0.2x their part's average. The "
    "agg-back-join (small per-group aggregate re-joined to the fact) "
    "beats a window avg at scale: the window would shuffle the full "
    "fact table, the aggregate is |parts| rows and broadcastable",
    oracle="""
WITH brand_lines AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#12'
), part_avg AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM brand_lines GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_lines b JOIN part_avg pa ON b.l_partkey = pa.l_partkey
WHERE CAST(b.l_quantity AS DOUBLE) < 0.2::DOUBLE * pa.avg_qty
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    brand_lines = li.join(
        F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    part_avg = brand_lines.groupBy("l_partkey").agg(
        (F.sum(_dec("l_quantity", 2)).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    # avg is an exact decimal sum cast to double then one exactly-rounded
    # division, so both engines compute the identical threshold.
    return (
        brand_lines.join(F.broadcast(part_avg), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg((exact_sum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "q11_important_parts",
    survey="A1 + scalar subquery (global-share HAVING)",
    desc="TPC-H-Q11 shape: per-part value filtered against a fraction of "
    "the GLOBAL total — the scalar aggregate is a 1-row broadcast joined "
    "into the per-part relation, so the fact table is aggregated exactly "
    "once and never re-shuffled. All arithmetic stays DECIMAL-exact so "
    "the threshold comparison is bit-identical across engines",
    oracle="""
WITH pv AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
FROM pv
WHERE val_dec > (SELECT SUM(val_dec) FROM pv) * CAST(0.0006 AS DECIMAL(6,4))
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(F.sum(_dec("l_extendedprice", 2)).alias("val_dec"))
    total = pv.agg(F.sum("val_dec").alias("total_dec"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("val_dec") > F.col("total_dec") * F.lit(0.0006).cast("decimal(6,4)"))
        .select("l_partkey", F.col("val_dec").cast("double").alias("part_value"))
    )


@register(
    "q22_wealthy_inactive",
    survey="J7 + scalar subquery (avg threshold + anti join)",
    desc="TPC-H-Q22 shape: customers above the global average positive "
    "balance with no finished ('F') order. One scalar aggregate "
    "broadcast into the filter, then a shuffle-free broadcast anti join "
    "against the filtered order keys",
    oracle="""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_custkey, c.c_acctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal", 2)).cast("double") / F.count(F.lit(1))).alias("ab")
    )
    wealthy = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    return wealthy.join(
        orders, wealthy.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


@register(
    "rollup_priority_status",
    survey="cube/rollup (ROLLUP + GROUPING flags)",
    desc="ROLLUP over (priority, status) with GROUPING() indicator "
    "columns distinguishing 'real NULL' from 'rolled-up' rows — the "
    "subtotal-hierarchy companion to cube_flag_status",
    oracle="""
SELECT o_orderpriority AS priority, o_orderstatus AS status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumnRenamed("o_orderpriority", "priority")
        .withColumnRenamed("o_orderstatus", "status")
    )
    return (
        orders.rollup("priority", "status")
        .agg(
            F.grouping("priority").cast("bigint").alias("g_priority"),
            F.grouping("status").cast("bigint").alias("g_status"),
            exact_sum("o_totalprice", 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Event analytics: rolling windows, funnels, streaks, graph motifs
# ---------------------------------------------------------------------------


@register(
    "rolling_active_users",
    survey="A2,W1 (rolling distinct window)",
    desc="trailing-7-day distinct active users per day. COUNT(DISTINCT) "
    "over a sliding range isn't window-expressible, so each (user, day) "
    "activity row is exploded to the <=7 window days it contributes to "
    "and counted with one hash-agg — the contribution-explode shape "
    "scales linearly in |activity| x window, vs the quadratic self-join",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
), days AS (SELECT DISTINCT d FROM ud)
SELECT days.d AS day, COUNT(DISTINCT ud.user_id) AS active_7d
FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
GROUP BY days.d
""",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select(F.col("d").alias("day")).distinct()
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day")
    )
    return (
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@register(
    "funnel_view_click_purchase",
    survey="A1,J1 (staged funnel)",
    desc="ordered conversion funnel view -> click -> purchase: stage N's "
    "first qualifying timestamp must follow stage N-1's. Each stage is a "
    "per-user MIN aggregate (<=|users| rows) joined back broadcast-style, "
    "so the raw event table is scanned once per stage and never shuffled "
    "on anything but user_id",
    oracle="""
WITH t1 AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t1
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t2
  GROUP BY e.user_id
)
SELECT COUNT(t1.t1) AS n_view, COUNT(t2.t2) AS n_click, COUNT(t3.t3) AS n_purchase
FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(t1), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(t2), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .agg(
            F.count("t1").alias("n_view"),
            F.count("t2").alias("n_click"),
            F.count("t3").alias("n_purchase"),
        )
    )


@register(
    "islands_activity_streaks",
    survey="W2 (gaps-and-islands)",
    desc="longest consecutive-active-day streak per user via the "
    "gaps-and-islands trick: day minus per-user ROW_NUMBER is constant "
    "within a consecutive run, so streaks fall out of two hash-aggs that "
    "reuse the window's user_id partitioning (no extra shuffle)",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
), g AS (
  SELECT user_id, d, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM ud
), s AS (
  SELECT user_id, d - CAST(rn AS INTEGER) AS anchor, COUNT(*) AS len
  FROM g GROUP BY user_id, d - CAST(rn AS INTEGER)
)
SELECT user_id, MAX(len) AS longest_streak FROM s GROUP BY user_id
""",
)
def islands_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    g = ud.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = g.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(F.max("len").alias("longest_streak"))


@register(
    "graph_triangle_count",
    survey="J5/U2 (graph motif)",
    desc="triangle count on the synthetic transfer graph (same edge "
    "derivation as j5_trace_2hop). Edges are canonicalized a<b so each "
    "triangle is counted once via two equi-joins — the node-iterator "
    "shape; at scale, orienting edges low-degree -> high-degree bounds "
    "the join fan-out by the arboricity instead of max degree",
    oracle="""
WITH ed AS (
  SELECT DISTINCT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 150 AS dst
  FROM events
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ed WHERE src <> dst
)
SELECT COUNT(*) AS n_triangles
FROM und e1
JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ed = ev.select(
        F.col("user_id").alias("src"),
        (F.floor(F.col("value")).cast("bigint") % 150).alias("dst"),
    ).distinct()
    und = (
        ed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    return (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# Text retrieval: TF-IDF, posting lists, per-group reservoir sampling
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_topk",
    survey="LLM-text (TF-IDF ranking)",
    desc="top-3 characteristic terms per document by TF-IDF rank; score "
    "is the rational idf-proxy tf*N/df (one exactly-rounded division — "
    "ln() is libm-dependent and not bit-portable; ln is monotone so the "
    "ranking is the textbook one). tf/df/N are three chained aggregates, "
    "vocab joined back broadcast-style",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, score, term_rank FROM (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
                                     tf.term) AS term_rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
) ranked
WHERE term_rank <= 3
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.tfidf_topk(docs, k=3)


@register(
    "text_inverted_index",
    survey="LLM-text (posting lists)",
    desc="inverted index: term -> df + sorted comma-joined doc-id "
    "posting list. collect_list is order-nondeterministic under "
    "distributed execution, so postings are array_sort-ed before "
    "joining — deterministic under any partitioning or retry",
    oracle=f"""
SELECT term, df, postings FROM (
  SELECT term, COUNT(*) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM (SELECT DISTINCT doc_id, unnest({_SQL_TOKS}) AS term FROM documents) pairs
  GROUP BY term
) t WHERE df >= 2
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.inverted_index(docs, min_df=2)


@register(
    "sample_reservoir_lang",
    survey="LLM-sampling (per-group reservoir)",
    desc="deterministic 5-per-language reservoir: rows ranked inside "
    "each group by md5(id) so the sample is uniform-ish yet identical "
    "across runs, retries, partitionings, and engines",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) t WHERE rn <= 5
""",
)
def sample_reservoir_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _sampling.reservoir_per_group(docs, "lang", "doc_id", k=5).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Quality-test family (T5/T6), calendar spine, sketch merge
# ---------------------------------------------------------------------------


@register(
    "t5_accepted_values_violations",
    survey="T-family (dbt accepted_values)",
    desc="dbt accepted_values test: event types outside the allowed set, "
    "grouped. The isin predicate pushes to the parquet scan",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
WHERE event_type IS NOT NULL
  AND event_type NOT IN ('view', 'click', 'purchase', 'signup')
GROUP BY event_type
""",
)
def t5_accepted_values_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality.checks import accepted_values_violations

    ev = load_table(spark, sf_dir, "events")
    bad = accepted_values_violations(ev, "event_type", ["view", "click", "purchase", "signup"])
    return bad.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "t6_referential_violations",
    survey="T-family (dbt relationships)",
    desc="dbt relationships test: transfer-graph destinations that are "
    "not known users (anti join against the distinct parent keys; on "
    "healthy data this returns ZERO rows — the dbt pass contract — and "
    "the sparse sf0.001 run exercises the violating path)",
    oracle="""
WITH ed AS (
  SELECT DISTINCT CAST(FLOOR(value) AS BIGINT) % 150 AS dst FROM events
), u AS (SELECT DISTINCT user_id FROM events)
SELECT dst
FROM ed WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.user_id = ed.dst)
""",
)
def t6_referential_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality.checks import relationship_violations

    ev = load_table(spark, sf_dir, "events")
    ed = ev.select((F.floor(F.col("value")).cast("bigint") % 150).alias("dst")).distinct()
    users = ev.select("user_id")
    return relationship_violations(ed, "dst", users, "user_id")


@register(
    "spine_fill_hourly",
    survey="W1/U1 (calendar spine gap fill)",
    desc="complete hourly spine over the observed range with zero-filled "
    "gaps: bounds are a 1-row broadcast, the spine is generated (not "
    "scanned), and the left join keys on the hour — the standard "
    "missing-bucket densification before window math",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1
), bounds AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM hourly),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
)
SELECT spine.hour, COALESCE(hourly.n, 0) AS n_events
FROM spine LEFT JOIN hourly ON spine.hour = hourly.hour
""",
)
def spine_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = hourly.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour")
    )
    return spine.join(hourly, "hour", "left").select(
        "hour", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events")
    )


@register(
    "w4_moving_avg_daily",
    survey="W1 (frame-based moving aggregate)",
    desc="7-day moving average of daily event counts (ROWS BETWEEN 6 "
    "PRECEDING): the windowed sum/count are over exact BIGINTs with one "
    "final exactly-rounded division, so the doubles are bit-identical",
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
)
SELECT day, n,
       CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w AS avg_7d
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def w4_moving_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n",
        (F.sum("n").over(w).cast("double") / F.count("n").over(w)).alias("avg_7d"),
    )


@register(
    "sketch_kmv_union",
    survey="A2 (mergeable sketch)",
    desc="KMV sketch MERGE: per-event-type user sketches unioned into "
    "the sketch of the union — the property that lets per-partition/"
    "per-day sketches combine at O(k) cost on a 100 TB corpus. Estimate "
    "arithmetic is identical to sketch_kmv_distinct",
    oracle="""
WITH hv_view AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'view' ORDER BY hv LIMIT 64
), hv_click AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'click' ORDER BY hv LIMIT 64
), merged AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM hv_view UNION ALL SELECT hv FROM hv_click)
  ORDER BY hv LIMIT 64
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_taken,
       MAX(hv) AS kth_min_hash,
       CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
            ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(hv) AS DOUBLE) END AS distinct_estimate
FROM merged
""",
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_mins, kmv_union

    ev = load_table(spark, sf_dir, "events")
    s_view = kmv_mins(ev.filter(F.col("event_type") == "view"), "user_id")
    s_click = kmv_mins(ev.filter(F.col("event_type") == "click"), "user_id")
    return kmv_union([s_view, s_click])


@register(
    "sketch_kmv_intersection",
    survey="A2 (sketch set algebra, r16)",
    desc="KMV set-INTERSECTION estimate — the Theta-sketch capability "
    "completing the sketch algebra beside sketch_kmv_union: distinct "
    "users who BOTH viewed and clicked, from two O(k) mins relations, "
    "never a raw-data join. theta-rule: below theta = min over "
    "saturated sketches' kth mins both sketches are complete censuses, "
    "so common hashes STRICTLY below theta are exact and the estimate "
    "scales by the inclusion fraction theta/2^60 — the strict bound "
    "keeps the family's (k-1)/kth convention, so est(A^A) on a "
    "saturated sketch equals kmv_distinct(A) (r16 advice fix); with "
    "neither sketch saturated "
    "the estimate IS the exact intersection count (the exact-below-k "
    "degeneration the whole KMV family shares). n_common/theta exact "
    "BIGINTs; one multiply + one divide on doubles, engine-identical",
    oracle="""
WITH hv_view AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'view' ORDER BY hv LIMIT 64
), hv_click AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'click' ORDER BY hv LIMIT 64
), sa AS (
  SELECT COUNT(*) AS n_a, MAX(hv) AS kth_a FROM hv_view
), sb AS (
  SELECT COUNT(*) AS n_b, MAX(hv) AS kth_b FROM hv_click
), st AS (
  SELECT LEAST(
           CASE WHEN n_a >= 64 THEN kth_a ELSE 1152921504606846976 END,
           CASE WHEN n_b >= 64 THEN kth_b ELSE 1152921504606846976 END
         ) AS theta
  FROM sa CROSS JOIN sb
), c AS (
  SELECT COUNT(*) AS n_common
  FROM hv_view a JOIN hv_click b USING (hv) CROSS JOIN st
  WHERE a.hv < st.theta
)
SELECT CAST(c.n_common AS BIGINT) AS n_common,
       CAST(st.theta AS BIGINT) AS theta,
       CASE WHEN st.theta >= 1152921504606846976 THEN CAST(c.n_common AS DOUBLE)
            ELSE CAST(c.n_common AS DOUBLE) * 1152921504606846976.0
                 / CAST(st.theta AS DOUBLE) END AS intersection_estimate
FROM c CROSS JOIN st
""",
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_intersect, kmv_mins

    ev = load_table(spark, sf_dir, "events")
    s_view = kmv_mins(ev.filter(F.col("event_type") == "view"), "user_id")
    s_click = kmv_mins(ev.filter(F.col("event_type") == "click"), "user_id")
    return kmv_intersect(s_view, s_click, k=64)


@register(
    "sketch_kmv_difference",
    survey="A2 (sketch set algebra, r17)",
    desc="KMV set-DIFFERENCE estimate (a-not-b) — the third Theta-"
    "sketch operation completing the serving algebra beside union and "
    "intersection: distinct users who viewed but NEVER clicked, from "
    "two O(k) mins relations, never a corpus-scale anti-join. Below "
    "theta = min(theta_a, theta_b) both sketches are complete "
    "censuses, so A-hashes strictly below theta absent from B's mins "
    "are exactly the difference's hashes there; estimate scales by "
    "theta/2^60. Strict bound keeps the algebra additive: "
    "est(A^B) + est(A-B) = est(A) when theta = theta_a. Neither "
    "saturated -> exact difference count. n_diff/theta exact BIGINTs; "
    "one multiply + one divide on doubles, engine-identical",
    oracle="""
WITH hv_view AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'view' ORDER BY hv LIMIT 64
), hv_click AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type = 'click' ORDER BY hv LIMIT 64
), sa AS (
  SELECT COUNT(*) AS n_a, MAX(hv) AS kth_a FROM hv_view
), sb AS (
  SELECT COUNT(*) AS n_b, MAX(hv) AS kth_b FROM hv_click
), st AS (
  SELECT LEAST(
           CASE WHEN n_a >= 64 THEN kth_a ELSE 1152921504606846976 END,
           CASE WHEN n_b >= 64 THEN kth_b ELSE 1152921504606846976 END
         ) AS theta
  FROM sa CROSS JOIN sb
), d AS (
  SELECT COUNT(*) AS n_diff
  FROM hv_view a CROSS JOIN st
  WHERE a.hv < st.theta
    AND NOT EXISTS (SELECT 1 FROM hv_click b WHERE b.hv = a.hv)
)
SELECT CAST(d.n_diff AS BIGINT) AS n_diff,
       CAST(st.theta AS BIGINT) AS theta,
       CASE WHEN st.theta >= 1152921504606846976 THEN CAST(d.n_diff AS DOUBLE)
            ELSE CAST(d.n_diff AS DOUBLE) * 1152921504606846976.0
                 / CAST(st.theta AS DOUBLE) END AS difference_estimate
FROM d CROSS JOIN st
""",
)
def sketch_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_a_not_b, kmv_mins

    ev = load_table(spark, sf_dir, "events")
    s_view = kmv_mins(ev.filter(F.col("event_type") == "view"), "user_id")
    s_click = kmv_mins(ev.filter(F.col("event_type") == "click"), "user_id")
    return kmv_a_not_b(s_view, s_click, k=64)


@register(
    "sketch_kmv_grouped_algebra",
    survey="A2 (sketch set algebra, per-dimension, r17)",
    desc="per-GROUP Theta-sketch set algebra: viewers vs clickers per "
    "DAY — intersection, both differences, and the Jaccard ratio of "
    "the two segments' user sets for every day, from two grouped O(k) "
    "mins relations in ONE O(groups x k) pass, never a raw-data join. "
    "Per group theta = min over saturated kth mins (absent/unsaturated "
    "side = complete census, theta = 2^60, so one-sided days read "
    "exact counts, not nulls); below its theta each group's strict "
    "census partitions exactly into common + a-only + b-only (the "
    "flat additivity law, group-wise) and estimates scale by "
    "theta/2^60; the Jaccard ratio needs no scaling. Counts exact "
    "BIGINTs, one multiply + one divide per estimate — the family's "
    "engine-identical arithmetic; grouped mins from the two-level "
    "salted min-k cut (lossless, oracle computes the direct form)",
    oracle="""
WITH base AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS g,
         event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE user_id IS NOT NULL
),
ha AS (SELECT DISTINCT g, hv FROM base WHERE event_type = 'view'),
hb AS (SELECT DISTINCT g, hv FROM base WHERE event_type = 'click'),
ma AS (SELECT g, hv FROM (SELECT g, hv,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv ASC) AS rn FROM ha)
       WHERE rn <= 32),
mb AS (SELECT g, hv FROM (SELECT g, hv,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv ASC) AS rn FROM hb)
       WHERE rn <= 32),
sa AS (SELECT g, COUNT(*) AS n_a, MAX(hv) AS kth_a FROM ma GROUP BY g),
sb AS (SELECT g, COUNT(*) AS n_b, MAX(hv) AS kth_b FROM mb GROUP BY g),
st AS (
  SELECT COALESCE(sa.g, sb.g) AS g,
         LEAST(
           CASE WHEN COALESCE(n_a, 0) >= 32 THEN kth_a
                ELSE 1152921504606846976 END,
           CASE WHEN COALESCE(n_b, 0) >= 32 THEN kth_b
                ELSE 1152921504606846976 END
         ) AS theta
  FROM sa FULL OUTER JOIN sb ON sa.g = sb.g
),
c AS (SELECT ma.g, COUNT(*) AS n FROM ma
      JOIN mb ON mb.g = ma.g AND mb.hv = ma.hv
      JOIN st ON st.g = ma.g WHERE ma.hv < st.theta GROUP BY ma.g),
oa AS (SELECT ma.g, COUNT(*) AS n FROM ma JOIN st ON st.g = ma.g
       WHERE ma.hv < st.theta
         AND NOT EXISTS (SELECT 1 FROM mb
                         WHERE mb.g = ma.g AND mb.hv = ma.hv)
       GROUP BY ma.g),
ob AS (SELECT mb.g, COUNT(*) AS n FROM mb JOIN st ON st.g = mb.g
       WHERE mb.hv < st.theta
         AND NOT EXISTS (SELECT 1 FROM ma
                         WHERE ma.g = mb.g AND ma.hv = mb.hv)
       GROUP BY mb.g)
SELECT st.g AS day,
       st.theta AS theta,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(oa.n, 0) AS BIGINT) AS n_only_a,
       CAST(COALESCE(ob.n, 0) AS BIGINT) AS n_only_b,
       CASE WHEN st.theta >= 1152921504606846976
            THEN CAST(COALESCE(c.n, 0) AS DOUBLE)
            ELSE CAST(COALESCE(c.n, 0) AS DOUBLE) * 1152921504606846976.0
                 / CAST(st.theta AS DOUBLE) END AS intersection_estimate,
       CASE WHEN st.theta >= 1152921504606846976
            THEN CAST(COALESCE(oa.n, 0) AS DOUBLE)
            ELSE CAST(COALESCE(oa.n, 0) AS DOUBLE) * 1152921504606846976.0
                 / CAST(st.theta AS DOUBLE) END AS a_not_b_estimate,
       CASE WHEN st.theta >= 1152921504606846976
            THEN CAST(COALESCE(ob.n, 0) AS DOUBLE)
            ELSE CAST(COALESCE(ob.n, 0) AS DOUBLE) * 1152921504606846976.0
                 / CAST(st.theta AS DOUBLE) END AS b_not_a_estimate,
       CASE WHEN COALESCE(c.n, 0) + COALESCE(oa.n, 0) + COALESCE(ob.n, 0) > 0
            THEN CAST(COALESCE(c.n, 0) AS DOUBLE)
                 / CAST(COALESCE(c.n, 0) + COALESCE(oa.n, 0)
                        + COALESCE(ob.n, 0) AS DOUBLE)
       END AS jaccard_estimate
FROM st LEFT JOIN c ON c.g = st.g
        LEFT JOIN oa ON oa.g = st.g
        LEFT JOIN ob ON ob.g = st.g
""",
)
def sketch_kmv_grouped_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import kmv_mins_grouped, kmv_set_stats_grouped

    ev = load_table(spark, sf_dir, "events")
    day = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
        "event_type",
    )
    ma = kmv_mins_grouped(
        day.filter(F.col("event_type") == "view"), "day", "user_id", k=32
    )
    mb = kmv_mins_grouped(
        day.filter(F.col("event_type") == "click"), "day", "user_id", k=32
    )
    return kmv_set_stats_grouped(ma, mb, k=32).withColumnRenamed("g", "day")


@register(
    "dedup_bow_cosine",
    survey="LLM-dedup (lexical cosine)",
    desc="near-dup pairs by exact bag-of-words cosine: dot products "
    "accumulate over shared terms via a term-keyed self-join (one "
    "shuffle, no cross join); tf/dot/norms are exact BIGINTs, the score "
    "is sqrt+divide (exactly-rounded IEEE) so bit-identical; at corpus "
    "scale candidates come from df-bounded terms with exact rescoring "
    "(bow_cosine_pairs(max_df=...))",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents) toks
  GROUP BY doc_id, term
), norms AS (SELECT doc_id, SUM(tf*tf) AS n2 FROM tf GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf*b.tf) AS dot
  FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
FROM dots JOIN norms na ON na.doc_id = dots.id_a
          JOIN norms nb ON nb.doc_id = dots.id_b
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.99
""",
)
def dedup_bow_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.bow_cosine_pairs(docs, threshold=0.99)


# ---------------------------------------------------------------------------
# Snapshot reads, set ops, deterministic statistics
# ---------------------------------------------------------------------------


@register(
    "latest_event_per_user",
    survey="W2 (latest-snapshot read)",
    desc="current-state snapshot from an append-only feed: one row per "
    "user, the latest by (ts, event_id) — the CDC/log-compaction read "
    "pattern. ROW_NUMBER over a total order (event_id tiebreak) makes "
    "the pick deterministic when timestamps tie",
    oracle="""
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "set_viewers_not_buyers",
    survey="U1 (EXCEPT / INTERSECT)",
    desc="set-op breadth: users who viewed but never purchased (EXCEPT) "
    "with the overlap count (INTERSECT) as a second column — both "
    "compile to aggregate/join plans, no row-at-a-time logic",
    oracle="""
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT COUNT(*) FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p) e) AS n_view_only,
       (SELECT COUNT(*) FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p) i) AS n_both
""",
)
def set_viewers_not_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    n_only = v.exceptAll(p).agg(F.count(F.lit(1)).alias("n_view_only"))
    n_both = v.intersect(p).agg(F.count(F.lit(1)).alias("n_both"))
    return n_only.crossJoin(F.broadcast(n_both))


@register(
    "corr_value_by_type",
    survey="A1 (deterministic statistics)",
    desc="Pearson correlation of event value vs hour-of-day per type, "
    "computed from exact DECIMAL sums (sum x, sum y, sum xy, sum x2, "
    "sum y2, n) with the closed-form final arithmetic in double — "
    "built-in corr() accumulates doubles order-dependently and is NOT "
    "bit-portable; this formulation is, and it's one map-side-combined "
    "hash-agg either way",
    oracle="""
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)
                  * CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)) AS DOUBLE) AS syy
  FROM events GROUP BY event_type
)
SELECT event_type,
       n,
       (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_value_hour
FROM s
""",
)
def corr_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = _dec("value", 2)
    y = F.hour(F.col("ts")).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return s.select("event_type", "n", corr.alias("corr_value_hour"))


@register(
    "ntile_value_quartiles",
    survey="W2 (equi-depth binning)",
    desc="equi-depth (quantile) binning via NTILE(4) over a total order "
    "(value, event_id tiebreak — without it NTILE is nondeterministic "
    "on ties), then per-bin stats. The global sort is the scale cost; "
    "at 100 TB the same result comes from percentile_approx cutpoints "
    "+ a scan (operators/approx.py)",
    oracle="""
SELECT quartile,
       COUNT(*) AS n,
       CAST(MIN(value) AS DOUBLE) AS lo,
       CAST(MAX(value) AS DOUBLE) AS hi
FROM (
  SELECT value, NTILE(4) OVER (ORDER BY value, event_id) AS quartile
  FROM events
) t
GROUP BY quartile
""",
)
def ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    binned = ev.select("value", F.ntile(4).over(w).alias("quartile"))
    return binned.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "w5_rank_family",
    survey="W2 (rank-family breadth)",
    desc="PERCENT_RANK / CUME_DIST / DENSE_RANK over customer balances "
    "per market segment: all three derive from the same sort, so one "
    "window shuffle serves the family; percent_rank's (rank-1)/(n-1) "
    "division is a single exactly-rounded double op",
    oracle="""
SELECT c_custkey, c_mktsegment,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS dense_rnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def w5_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).cast("bigint").alias("dense_rnk"),
    )


@register(
    "grouping_sets_api",
    survey="cube/rollup (explicit GROUPING SETS, SQL surface)",
    desc="explicit GROUPING SETS — only the two wanted subtotal "
    "combinations, not the full cube lattice (at scale, each extra "
    "grouping set is a whole extra aggregate pass under expand, so "
    "naming exactly the sets you need is the cost control)",
    oracle="""
SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
""",
)
def grouping_sets_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        """
    )


@register(
    "dedup_corpus_survivors",
    survey="LLM-dedup (end-to-end pipeline)",
    desc="the full dedup pipeline composed: MinHash-LSH candidates -> "
    "signature-estimate verification -> connected-component clusters -> "
    "keep the canonical (min-id) member per cluster -> surviving corpus. "
    "Each stage is the already-verified operator; this entry checks the "
    "COMPOSITION end-to-end (what a training-data pipeline actually runs)",
    oracle=f"""
WITH RECURSIVE sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
  WHERE ({_SQL_EST_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
clusters AS (SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id, d.lang
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c WHERE c.doc = d.doc_id AND c.doc <> c.cluster_id
)
""",
)
def dedup_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.clusters import connected_clusters
    from .llmdata.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)
    clusters = connected_clusters(pairs)
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    return docs.join(
        removed, docs.doc_id == removed.doc, "left_anti"
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Further TPC-H join/agg patterns (q7/q14/q15/q18/q19 shapes)
# ---------------------------------------------------------------------------


@register(
    "q7_nation_volume",
    survey="J4,A1 (multi-hop dim join, pair grouping)",
    desc="TPC-H-Q7 shape: shipping volume between nation pairs — the "
    "fact joins two independent dim chains (customer-nation and "
    "supplier-nation), both broadcast; grouping on the derived pair key "
    "plus year. Exercises join-order freedom Catalyst gets from "
    "declarative chains",
    oracle="""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
WHERE ns.n_nationkey < 3 AND nc.n_nationkey < 3
  AND ns.n_nationkey <> nc.n_nationkey
GROUP BY 1, 2, 3
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nc = nation.filter(F.col("n_nationkey") < 3).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    ns = nation.filter(F.col("n_nationkey") < 3).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == nc.c_nk)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == ns.s_nk)
        .filter(F.col("s_nk") != F.col("c_nk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(exact_sum("l_extendedprice", 2).alias("volume"))
    )


@register(
    "q14_promo_revenue_share",
    survey="A1 (conditional-aggregate ratio)",
    desc="TPC-H-Q14 shape: promo revenue as a percentage of total — two "
    "conditional exact-decimal sums in ONE aggregate pass (no second "
    "scan), final ratio is one multiply + one divide in double",
    oracle="""
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
""",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part.select("p_partkey", "p_type")),
                     li.l_partkey == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _dec("l_extendedprice", 2)).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_dec("l_extendedprice", 2)).cast("double")
        ).alias("promo_pct")
    )


@register(
    "q15_top_supplier",
    survey="A4 + scalar subquery (argmax vs max-of-agg)",
    desc="TPC-H-Q15 shape: supplier(s) whose revenue equals the maximum "
    "— per-supplier aggregate computed ONCE, its max broadcast back as "
    "a 1-row join; DECIMAL-exact equality so ties are engine-identical",
    oracle="""
WITH rev AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(6,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev_expr = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_expr).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


@register(
    "q18_large_orders",
    survey="A1 + IN-on-aggregate (HAVING semi join)",
    desc="TPC-H-Q18 shape: orders whose total quantity exceeds a "
    "threshold — the HAVING aggregate becomes a semi join of the fact "
    "against its own grouped keys (aggregate once, probe broadcast)",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(150 AS DECIMAL(18,2))
)
SELECT c.c_custkey, o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS total_price,
       CAST(sums.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
) sums ON sums.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sums = li.groupBy("l_orderkey").agg(F.sum(_dec("l_quantity", 2)).alias("sum_qty"))
    big = sums.filter(F.col("sum_qty") > F.lit(150).cast("decimal(18,2)"))
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sums, orders.o_orderkey == sums.l_orderkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    survey="P-family (disjunctive pushdown) + J1",
    desc="TPC-H-Q19 shape: OR of conjunct bundles across the join "
    "boundary — Catalyst splits the common p_partkey join key out and "
    "pushes the per-side conjuncts below it; the revenue sum is one "
    "exact-decimal aggregate",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * CAST(1.0 - l.l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
""",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    rev = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    return joined.filter(cond).agg(
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("revenue")
    )


@register(
    "winsorize_values",
    survey="A3/P-family (outlier clamp)",
    desc="per-type winsorization: values clamped to the group's exact "
    "[p05, p95] — percentile pair aggregated once per group and joined "
    "back broadcast (one fact scan, no reshuffle); both engines "
    "interpolate (n-1)*p in double so clamp bounds are bit-identical",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       LEAST(GREATEST(e.value, b.lo), b.hi) AS value_winsorized
FROM events e JOIN b ON e.event_type = b.event_type
""",
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import winsorize

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return winsorize(ev, "value", "event_type", 0.05, 0.95)


@register(
    "text_contamination",
    survey="LLM-dedup (benchmark decontamination)",
    desc="eval-set contamination: fraction of each doc's distinct "
    "3-gram shingles appearing in a (deterministically sampled) "
    "benchmark set — benchmark shingles collapse to a broadcast "
    "distinct set, scores are exact integer ratios",
    oracle="""
WITH bench_docs AS (
  SELECT doc_id, text FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '15'
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), train_sh AS (
  SELECT DISTINCT doc, sh FROM (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM toks)
), btoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM bench_docs
), bench_sh AS (
  SELECT DISTINCT sh FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM btoks)
), sizes AS (SELECT doc, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc),
hits AS (
  SELECT t.doc, COUNT(*) AS n_hits
  FROM train_sh t JOIN bench_sh b ON t.sh = b.sh
  GROUP BY t.doc
)
SELECT s.doc, s.n_shingles,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / s.n_shingles AS contamination
FROM sizes s LEFT JOIN hits h ON s.doc = h.doc
""",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = _sampling.hash_sample(docs, id_col="doc_id", prefix_lt="15")
    return _dedup.contamination_scores(docs, bench, n=3)


@register(
    "markov_event_transitions",
    survey="W-family (sequence mining)",
    desc="first-order transition counts between consecutive events per "
    "user (LAG over the per-user timeline) plus the per-source "
    "transition probability — an exactly-rounded division of BIGINT "
    "counts. The window and both aggs share the user_id partitioning",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), totals AS (
  SELECT prev_type, SUM(n) AS n_from FROM trans GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, t.n,
       CAST(t.n AS DOUBLE) / tot.n_from AS p
FROM trans t JOIN totals tot ON t.prev_type = tot.prev_type
""",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


@register(
    "mad_by_type",
    survey="A3 (robust statistics)",
    desc="median absolute deviation per event type: the group median is "
    "aggregated once and joined back broadcast, then the median of "
    "|x - median| is a second exact percentile — the two-pass "
    "agg-back-join robust-scale estimator (no window over the fact)",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       quantile_cont(abs(e.value - med.m), 0.5) AS mad,
       ANY_VALUE(med.m) AS median_value
FROM events e JOIN med ON e.event_type = med.event_type
GROUP BY e.event_type
""",
)
def mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(value - m), 0.5)").alias("mad"),
            F.first("m").alias("median_value"),
        )
    )


@register(
    "q2_min_balance_supplier",
    survey="J-family (correlated argmin across a join)",
    desc="TPC-H-Q2 shape: for each part, its supplier with the minimum "
    "account balance (ties broken by suppkey). The argmin is a "
    "ROW_NUMBER over the joined relation partitioned by part — one "
    "shuffle on partkey; the alternative correlated subquery would "
    "rescan suppliers per part",
    oracle="""
SELECT p_partkey, s_suppkey, s_acctbal FROM (
  SELECT p.p_partkey, s.s_suppkey, s.s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part p ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  WHERE p.p_size <= 10
) t WHERE rn = 1
""",
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = load_table(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    joined = (
        ps.join(F.broadcast(part.select("p_partkey")), ps.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_acctbal")), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "s_suppkey", "s_acctbal")
    )


@register(
    "text_chunking",
    survey="LLM-text (context-window chunking)",
    desc="split documents into 32-token chunks (the step before "
    "pack_sequences): tokens explode ONCE, chunk assignment is integer "
    "division, reassembly is one ordered hash-agg — linear, never the "
    "per-chunk array-slice form that re-tokenizes quadratically",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), tok_rows AS (
  SELECT doc_id,
         unnest(range(1, len(t) + 1)) - 1 AS pos,
         unnest(t) AS token
  FROM toks
), chunked AS (
  SELECT doc_id, pos, token, pos // 32 AS chunk_idx FROM tok_rows
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       string_agg(token, ' ' ORDER BY pos) AS chunk_text,
       COUNT(*) AS n_tokens
FROM chunked
GROUP BY doc_id, chunk_idx
""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _text.chunk_documents(docs, chunk_tokens=32)


@register(
    "q4_late_shipment_orders",
    survey="J6 (non-equi correlated EXISTS)",
    desc="TPC-H-Q4 shape: orders with at least one lineitem shipped "
    "after the order date — a correlated EXISTS whose condition mixes "
    "the equi key with a non-equi date comparison; Spark plans the "
    "semi join on the key and evaluates the residual date predicate "
    "inside the join, so no fact-side pre-aggregation is needed",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
""",
)
def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate)
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q9_profit_by_nation_year",
    survey="J4,A1 (profit arithmetic over multi-join)",
    desc="TPC-H-Q9 shape: profit (discounted revenue minus cost proxy) "
    "per supplier nation and year — per-row arithmetic spanning three "
    "relations stays exact DECIMAL end-to-end, grouped after two "
    "broadcast dim hops",
    oracle="""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1.0 - l.l_discount AS DECIMAL(6,4))
                  - CAST(p.p_retailprice AS DECIMAL(12,2))
                    * CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(0.01 AS DECIMAL(3,2))
            ) AS DECIMAL(38,6)) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    cost = (
        _dec("p_retailprice", 2).cast("decimal(12,2)")
        * _dec("l_quantity", 2).cast("decimal(12,2)")
        * F.lit(0.01).cast("decimal(3,2)")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(F.sum(revenue - cost).cast("decimal(38,6)").cast("double").alias("profit"))
    )


@register(
    "quality_report",
    survey="T1-T6 (suite composition)",
    desc="the dbt-build analog as ONE relation: every declared check "
    "runs as a zero-row-expected aggregate and the report is their "
    "UNION ALL — (check_name, n_violations); each branch is an "
    "independent stage so the suite parallelizes across checks",
    oracle="""
SELECT 'orders_orderkey_unique' AS check_name,
       (SELECT COUNT(*) FROM (
          SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
          GROUP BY o_orderkey HAVING COUNT(*) > 1) t) AS n_violations
UNION ALL
SELECT 'orders_custkey_not_null',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
UNION ALL
SELECT 'lineitem_order_line_unique',
       (SELECT COUNT(*) FROM (
          SELECT l_orderkey, l_linenumber FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) t)
UNION ALL
SELECT 'orders_priority_accepted_values',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                      '4-NOT SPECIFIED','5-LOW'))
UNION ALL
SELECT 'orders_custkey_references_customer',
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
""",
)
def quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality.checks import (
        accepted_values_violations,
        not_null_violations,
        relationship_violations,
        unique_combination_violations,
        unique_violations,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    checks = [
        ("orders_orderkey_unique", unique_violations(orders, "o_orderkey")),
        ("orders_custkey_not_null", not_null_violations(orders, "o_custkey")),
        (
            "lineitem_order_line_unique",
            unique_combination_violations(li, ["l_orderkey", "l_linenumber"]),
        ),
        (
            "orders_priority_accepted_values",
            accepted_values_violations(
                orders,
                "o_orderpriority",
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ),
        ),
        (
            "orders_custkey_references_customer",
            relationship_violations(orders, "o_custkey", cust, "c_custkey"),
        ),
    ]
    report = None
    for name, viol in checks:
        row = viol.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        report = row if report is None else report.unionByName(row)
    return report


@register(
    "union_schema_drift",
    survey="U1/I2 (schema-drift union)",
    desc="union across schema drift: an old daily dump (no priority "
    "column) unioned with a new one by NAME with missing columns "
    "null-filled — the read-side companion of the widen-only ratchet "
    "(schema/inference.py); positional UNION would silently misalign",
    oracle="""
SELECT * FROM (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
) t
""",
)
def union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old_dump = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_dump = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return old_dump.unionByName(new_dump, allowMissingColumns=True)


@register(
    "explode_outer_tokens",
    survey="P-family (null-preserving lateral)",
    desc="explode_outer keeps zero-token documents as a NULL row — the "
    "LEFT-JOIN-like lateral semantics that stop empty docs silently "
    "vanishing from per-token pipelines (inner explode drops them)",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
)
SELECT d.doc_id, u.token
FROM toks d LEFT JOIN (
  SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0
) u ON d.doc_id = u.doc_id
""",
)
def explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode_outer(tokens_col("text")).alias("token")
    )


@register(
    "sample_importance_weighted",
    survey="LLM-sampling (importance/data mixing)",
    desc="deterministic importance sampling: each doc kept with "
    "probability n_chars/max_chars (longer docs upweighted — the "
    "data-mixing primitive). hash-fraction Bernoulli, so the draw is "
    "reproducible across runs, retries, partitionings, and engines",
    oracle="""
WITH mx AS (SELECT MAX(n_chars) AS m FROM documents)
SELECT d.doc_id, d.n_chars
FROM documents d, mx
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
      / 4503599627370496.0
      < CAST(d.n_chars AS DOUBLE) / CAST(mx.m AS DOUBLE)
""",
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("m"))
    docs_m = docs.crossJoin(F.broadcast(mx))
    kept = _sampling.importance_sample(
        docs_m, "doc_id", (F.col("n_chars").cast("double") / F.col("m")), max_weight=1.0
    )
    return kept.select("doc_id", "n_chars")


@register(
    "locf_forward_fill",
    survey="W1 (LOCF gap fill)",
    desc="last-observation-carried-forward: per-user forward fill of a "
    "nullable reading via LAST_VALUE(... IGNORE NULLS) over an "
    "unbounded-preceding frame with a total order — the standard "
    "sensor/time-series densification, one window shuffle on user_id",
    oracle="""
SELECT event_id, user_id,
       LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM events
""",
)
def locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    reading = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(reading, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "null_safe_join",
    survey="J-family (null-safe equality)",
    desc="join on a nullable derived key with NULL-safe equality (<=>): "
    "plain = drops every NULL-keyed row, <=> matches NULL to NULL — the "
    "semantics gap that silently loses rows when joining on optional "
    "attributes. Both engines hash NULL as a regular key value here",
    oracle="""
WITH k AS (
  SELECT event_id,
         CASE WHEN value >= 100 THEN NULL
              ELSE CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS BIGINT) END AS opt_key
  FROM events
), dim AS (
  SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'bucket-0'), (1, 'bucket-1'),
                        (2, 'bucket-2'), (3, 'bucket-3'), (4, 'bucket-4'),
                        (NULL, 'bucket-null')) d(opt_key, bucket_name)
)
SELECT d.bucket_name, COUNT(*) AS n
FROM k JOIN dim d ON k.opt_key IS NOT DISTINCT FROM d.opt_key
GROUP BY d.bucket_name
""",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        F.when(F.col("value") >= 100, F.lit(None))
        .otherwise(F.floor(F.col("value")).cast("bigint") % 5)
        .cast("bigint")
        .alias("opt_key"),
    )
    dim = ev.sparkSession.createDataFrame(
        [(0, "bucket-0"), (1, "bucket-1"), (2, "bucket-2"), (3, "bucket-3"),
         (4, "bucket-4"), (None, "bucket-null")],
        "opt_key bigint, bucket_name string",
    )
    return (
        k.join(F.broadcast(dim), k.opt_key.eqNullSafe(dim.opt_key))
        .groupBy("bucket_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fuzzy_name_pairs",
    survey="J-family (edit-distance fuzzy join, blocked)",
    desc="fuzzy matching: customer-name pairs within Levenshtein "
    "distance 1, candidate-blocked on the shared 7-char id prefix so "
    "the quadratic edit-distance only runs inside small blocks — the "
    "record-linkage shape (block -> score -> threshold), never "
    "all-pairs",
    oracle="""
WITH names AS (
  SELECT c_custkey, substr(c_name, 10) AS suffix,
         substr(c_name, 10, 7) AS blk
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.suffix, b.suffix) AS BIGINT) AS edit_dist
FROM names a JOIN names b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.suffix, b.suffix) <= 1
""",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    names = cust.select(
        "c_custkey",
        F.substring("c_name", 10, 100).alias("suffix"),
        F.substring("c_name", 10, 7).alias("blk"),
    )
    a = names.select(
        F.col("c_custkey").alias("id_a"), F.col("suffix").alias("sfx_a"), "blk"
    )
    b = names.select(
        F.col("c_custkey").alias("id_b"), F.col("suffix").alias("sfx_b"), "blk"
    )
    dist = F.levenshtein("sfx_a", "sfx_b")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= 1)
        .select("id_a", "id_b", dist.cast("bigint").alias("edit_dist"))
    )


@register(
    "q8_market_share",
    survey="A1 (grouped conditional ratio, q8 shape)",
    desc="TPC-H-Q8 shape: one nation's share of yearly revenue — "
    "numerator (CASE-gated) and denominator ride the SAME exact-decimal "
    "aggregate pass per year; the share is one exactly-rounded division",
    oracle="""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CASE WHEN s.s_nationkey = 1
                THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * CAST(1.0 - l.l_discount AS DECIMAL(6,4))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1.0 - l.l_discount AS DECIMAL(6,4))) AS DOUBLE)
       AS nation1_share
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    rev = _dec("l_extendedprice", 2).cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    gated = F.when(F.col("s_nationkey") == 1, rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            (F.sum(gated).cast("double") / F.sum(rev).cast("double")).alias(
                "nation1_share"
            )
        )
    )


@register(
    "q16_supplier_count_excluding",
    survey="A2/J7 (anti-join + grouped COUNT DISTINCT, q16 shape)",
    desc="TPC-H-Q16 shape: distinct suppliers per (brand, size) "
    "EXCLUDING a supplier denylist — the anti join prunes before the "
    "distinct aggregation, so denied rows never reach the shuffle",
    oracle="""
WITH denied AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
)
SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 5
  AND NOT EXISTS (SELECT 1 FROM denied d WHERE d.s_suppkey = l.l_suppkey)
GROUP BY p.p_brand, p.p_size
""",
)
def q16_supplier_count_excluding(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    denied = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(denied, li.l_suppkey == denied.s_suppkey, "left_anti")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q21_sole_late_supplier",
    survey="J6/J7 (dual correlated EXISTS + NOT EXISTS, q21 shape)",
    desc="TPC-H-Q21 shape: late lineitems on multi-supplier orders where "
    "NO other supplier was late — a positive EXISTS and a negative "
    "NOT EXISTS correlated on the same fact, planned as a semi join "
    "then an anti join on (orderkey, other-supplier) relations",
    oracle="""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
SELECT lt.l_suppkey AS suppkey, COUNT(*) AS numwait
FROM late lt
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = lt.l_orderkey
                AND l2.l_suppkey <> lt.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late lt2
                  WHERE lt2.l_orderkey = lt.l_orderkey
                    AND lt2.l_suppkey <> lt.l_suppkey)
GROUP BY lt.l_suppkey
""",
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("lo_key"), F.col("l_suppkey").alias("lo_supp")
    )
    has_other = late.join(
        others,
        (late.l_orderkey == others.o_key) & (late.l_suppkey != others.o_supp),
        "left_semi",
    )
    sole_late = has_other.join(
        late_others,
        (has_other.l_orderkey == late_others.lo_key)
        & (has_other.l_suppkey != late_others.lo_supp),
        "left_anti",
    )
    return sole_late.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("numwait")
    )


@register(
    "w6_trailing_hour_sum",
    survey="W1 (event-time RANGE INTERVAL frame)",
    desc="per-event trailing-1-hour running sum per user: a RANGE frame "
    "bounded by a time INTERVAL (not row counts) — every row sees its "
    "own sliding event-time window without self-joining the fact; "
    "exact-decimal sum keeps the frame aggregation bit-portable",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS hour_sum
FROM events
""",
)
def w6_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS hour_sum
        FROM events_v
        """
    )


@register(
    "q20_half_stock_suppliers",
    survey="J6 + agg-back-join (nested IN, q20 shape)",
    desc="TPC-H-Q20 shape: suppliers whose shipped quantity of some "
    "part exceeds half that part's total shipped quantity — a "
    "per-(part,supplier) aggregate semi-filtered against the per-part "
    "aggregate (both DECIMAL-exact), then a semi join up to suppliers",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), pt AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT ps.l_suppkey FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
  WHERE ps.supp_qty > pt.total_qty * CAST(0.2 AS DECIMAL(2,1))
)
""",
)
def q20_half_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity", 2)).alias("supp_qty")
    )
    pt = li.groupBy("l_partkey").agg(F.sum(_dec("l_quantity", 2)).alias("total_qty"))
    dominant = (
        ps.join(pt, "l_partkey")
        .filter(F.col("supp_qty") > F.col("total_qty") * F.lit(0.2).cast("decimal(2,1)"))
        .select("l_suppkey")
        .distinct()
    )
    return supp.join(
        dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "text_line_dedup",
    survey="LLM-dedup (C4-style line-level boilerplate removal)",
    desc="drop every 2-token 'line' occurring verbatim in more than 5 "
    "distinct documents and reassemble the survivors in order — the C4 "
    "pipeline's repeated-line rule on a corpus whose lines are fixed "
    "token windows; linear explode, hash-aggs, and one skew-tolerant "
    "join on line text",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
tok_rows AS (
  SELECT doc_id,
         unnest(range(1, len(t) + 1)) - 1 AS pos,
         unnest(t) AS token
  FROM toks
),
lines AS (
  SELECT doc_id, pos // 2 AS line_no,
         string_agg(token, ' ' ORDER BY pos) AS line_text
  FROM tok_rows GROUP BY doc_id, pos // 2
),
ldf AS (
  SELECT line_text, COUNT(DISTINCT doc_id) AS line_df
  FROM lines GROUP BY line_text
),
kept AS (
  SELECT l.doc_id, l.line_no, l.line_text
  FROM lines l JOIN ldf USING (line_text)
  WHERE ldf.line_df <= 5
),
kept_agg AS (
  SELECT doc_id, string_agg(line_text, ' ' ORDER BY line_no) AS clean_text,
         COUNT(*) AS n_lines_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
-- anchor on the input ids: zero-token docs have no lines but still
-- get an output row with clean_text = '' (matches line_dedup)
SELECT d.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(COALESCE(k.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(COALESCE(t.n_lines, 0) - COALESCE(k.n_lines_kept, 0) AS BIGINT) AS n_lines_removed
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN kept_agg k USING (doc_id)
""",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.text import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup(docs, line_tokens=2, max_line_df=5)


@register(
    "text_rarity",
    survey="LLM-text (unigram rarity / quality scoring)",
    desc="tf-weighted mean corpus document frequency per document — the "
    "unigram-LM quality signal with every accumulator an exact BIGINT "
    "and one final IEEE division (no cross-engine log())",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
),
dfr AS (
  SELECT token, COUNT(*) AS token_df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(d.token_df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_df
FROM tok t JOIN dfr d USING (token)
GROUP BY t.doc_id
""",
)
def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.text import rarity_scores

    docs = load_table(spark, sf_dir, "documents")
    return rarity_scores(docs)


@register(
    "scd2_customer_batch",
    survey="§2.10 (incremental batch; SCD2 MERGE emulation)",
    desc="SCD Type-2 merge of a CDC batch into the customer dimension "
    "(changed keys close + re-open, new keys append, unchanged keys "
    "untouched): anti-join + union composition, one shuffle on the "
    "business key — the MERGE INTO emulation for non-transactional "
    "table formats",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer
),
upd AS (
  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 1
  UNION ALL
  SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 2
),
changed AS (
  SELECT d.c_custkey
  FROM dim d JOIN upd u USING (c_custkey)
  WHERE d.c_acctbal IS DISTINCT FROM u.c_acctbal
     OR d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
)
SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,
       CASE WHEN c.c_custkey IS NOT NULL
            THEN TIMESTAMP '2024-06-01 00:00:00' END AS valid_to
FROM dim d LEFT JOIN changed c USING (c_custkey)
UNION ALL
SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
       TIMESTAMP '2024-06-01 00:00:00' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to
FROM upd u
WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
   OR u.c_custkey NOT IN (SELECT c_custkey FROM dim)
""",
)
def scd2_customer_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    upd = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100)).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 7 == 1).select(
                "c_custkey", "c_acctbal", "c_mktsegment"
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 7 == 2).select(
                (F.col("c_custkey") + F.lit(10000000)).alias("c_custkey"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )
    return scd2_merge(
        dim,
        upd,
        key="c_custkey",
        tracked=["c_acctbal", "c_mktsegment"],
        batch_ts="2024-06-01 00:00:00",
    )


@register(
    "hopping_window_events",
    survey="§2.10 (hopping/sliding event-time window)",
    desc="1h window hopping every 30min over events — the F.window "
    "slide form, epoch-aligned, each event contributing to exactly 2 "
    "overlapping windows",
    oracle="""
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
w AS (
  SELECT unnest([
           make_timestamp(epoch_us(ts) // 1800000000 * 1800000000),
           make_timestamp(epoch_us(ts) // 1800000000 * 1800000000 - 1800000000)
         ]) AS window_start,
         event_type, value
  FROM e
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM w
GROUP BY 1, 2, 3
""",
)
def hopping_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "sketch_cms_heavy_hitters",
    survey="LLM-sketch (count-min heavy hitters, mergeable)",
    desc="count-min sketch (4×256 integer-hash counters) over event "
    "user_ids, then top-20 keys by min-over-rows point estimate — "
    "fixed O(depth×width) state per source, cell-wise-sum mergeable, "
    "and bit-exact across engines (pure int64 arithmetic, unlike "
    "HLL++); estimates never under-count",
    oracle="""
WITH ev AS (SELECT CAST(user_id AS BIGINT) AS k FROM events),
params(i, a, b) AS (VALUES (0, 3, 17), (1, 1299709, 104729),
                           (2, 15485863, 32452843), (3, 49979687, 86028121)),
cells AS (
  -- ((k % p) + p) % p == Spark pmod(k, p): non-negative for any key
  -- domain (a*pmod+b >= 0, so the outer mods need no such wrap)
  SELECT p.i AS row_id,
         ((p.a * (((e.k % 1000000007) + 1000000007) % 1000000007) + p.b)
          % 1000000007) % 256 AS col_id,
         COUNT(*) AS cnt
  FROM ev e CROSS JOIN params p
  GROUP BY 1, 2
),
keys AS (SELECT DISTINCT k FROM ev),
est AS (
  SELECT keys.k AS user_id, MIN(c.cnt) AS est_count
  FROM keys CROSS JOIN params p
  JOIN cells c
    ON c.row_id = p.i
   AND c.col_id = ((p.a * (((keys.k % 1000000007) + 1000000007)
                           % 1000000007) + p.b) % 1000000007) % 256
  GROUP BY 1
)
SELECT user_id, est_count FROM est
ORDER BY est_count DESC, user_id ASC LIMIT 20
""",
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id", width=256)
    keys = ev.distinct()
    est = cms_estimate(sketch, keys, "user_id", width=256)
    return est.orderBy(F.desc("est_count"), F.asc("user_id")).limit(20)


@register(
    "graph_pagerank",
    survey="J5/U2 (iterative graph scoring)",
    desc="3-round fixed-point PageRank on the synthetic transfer graph "
    "(same edge derivation as graph_triangle_count): BIGINT ranks "
    "scaled 1e12, integer-division contributions, (85·mass) div 100 "
    "damping — bit-exact across engines, so the iterative rounds are "
    "oracle-checkable unrolled; top-20 by rank",
    oracle="""
WITH ed AS (
  SELECT DISTINCT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 150 AS dst
  FROM events
),
v AS (SELECT src AS vertex FROM ed UNION SELECT dst FROM ed),
deg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src),
edd AS (SELECT e.src, e.dst, d.outdeg FROM ed e JOIN deg d USING (src)),
r0 AS (SELECT vertex, CAST(1000000000000 AS BIGINT) AS rank_s FROM v),
r1 AS (
  SELECT v.vertex,
         CAST(150000000000 + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r0 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
),
r2 AS (
  SELECT v.vertex,
         CAST(150000000000 + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r1 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
),
r3 AS (
  SELECT v.vertex,
         CAST(150000000000 + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r2 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
)
SELECT vertex, rank_s, CAST(rank_s AS DOUBLE) / 1000000000000 AS rank
FROM r3 ORDER BY rank_s DESC, vertex ASC LIMIT 20
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .query.graph import pagerank_fixed_point

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.floor(F.col("value")).cast("bigint") % 150).alias("dst"),
    )
    pr = pagerank_fixed_point(edges, iterations=3)
    return pr.orderBy(F.desc("rank_s"), F.asc("vertex")).limit(20)


# ---------------------------------------------------------------------------
# Corpus prep. v2, v3, v4 and v6 share one head, normalize -> per-row
# gates -> exact dedup, written once below for the plan
# (_corpus_prep_survivors) and once for the oracle (_sql_prep_head);
# each entry supplies only its tail. v1 (line dedup -> packing) and v5
# (BPE -> budget -> packing) share only the budget window CTEs.


@dataclass(frozen=True)
class _PrepGate:
    """A per-row gate of the corpus-prep head beside the Gopher gate.

    ``frame`` maps the normalized corpus to its passing (doc_id, *cols)
    rows; ``ctes`` is the oracle's form, ending in relation ``rel``,
    which kept joins as ``alias``. ``before_gopher`` places the plan's
    join ahead of the Gopher gate's; the oracle always joins gate
    first, then the extra gates in order."""

    frame: Callable[[DataFrame], DataFrame]
    ctes: str
    rel: str
    alias: str
    cols: tuple[str, ...]
    before_gopher: bool


def _corpus_prep_survivors(
    spark: SparkSession,
    sf_dir: str,
    carry: str,
    gates: tuple[_PrepGate, ...] = (),
    cols: tuple[str, ...] = (),
) -> DataFrame:
    """normalize -> Gopher gate (+ ``gates``) -> exact dedup (min-id
    survivor) over the documents table. -> the persisted survivors:
    doc_id, norm_text, the ``carry`` column and each gate's columns, or
    only ``cols`` when given.

    The corpus arrives as one parquet split, so it is repartitioned
    before the per-row text work, which would otherwise run in one
    task. The Gopher gate's output is persisted: a bare
    ``filter("keep")`` lets Catalyst substitute the gate expression
    into the predicate and push it below the repartition into the file
    scan, re-running the tokenizer per row on the single split. The
    gates are all per-row predicates on the normalized text, so they
    evaluate independently and intersect in one join round. kept and
    the survivors each feed several branches, so both persist; without
    that the normalize+gate prefix re-executes per branch.
    """
    from .caching import tracked_persist

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    normed = _text.normalize_text(docs).join(docs.select("doc_id", carry), "doc_id")
    before = [g.frame(normed) for g in gates if g.before_gopher]
    gated = tracked_persist(_text.gopher_quality_gate(normed, text_col="norm_text"))
    after = [g.frame(normed) for g in gates if not g.before_gopher]
    kept = normed
    for passed in [*before, gated.filter("keep").select("doc_id"), *after]:
        kept = kept.join(passed, "doc_id")
    kept = tracked_persist(kept)
    groups = _dedup.exact_duplicate_groups(kept, text_col="norm_text")
    survivors = kept.join(groups.select(F.col("canonical_id").alias("doc_id")), "doc_id")
    return tracked_persist(survivors.select(*cols) if cols else survivors)


def _prep_budget(survivors: DataFrame) -> DataFrame:
    """The best half of the survivors' tokens, ranked by n_chars."""
    return _sampling.quality_budget_select(
        survivors, score_col="n_chars", budget_den=2, text_col="norm_text"
    )


def _sql_norm_text() -> str:
    """llmdata.text.normalize_text's norm_text as a DuckDB expression
    over ``text``."""
    from .llmdata.text import ACCENT_DST, ACCENT_SRC

    return (
        "trim(regexp_replace(translate(lower(regexp_replace("
        "text, '[\\x00-\\x1f\\x7f-\\x9f]', ' ', 'g')), "
        f"'{ACCENT_SRC}', '{ACCENT_DST}'), "
        "'\\s+', ' ', 'g'))"
    )


def _sql_prep_head(carry: str, gates: tuple[_PrepGate, ...] = ()) -> str:
    """The oracle's corpus-prep head: CTEs norm, tk, each gate's CTEs,
    st, gate, kept, grp and surv, ending with "surv AS (...),"."""
    toks_norm = _SQL_TOKS.replace("lower(text)", "lower(norm_text)")
    gate_ctes = "".join(g.ctes + ",\n" for g in gates)
    if gates:
        scores = "".join(f", {g.alias}.{c}" for g in gates for c in g.cols)
        joins = "\n       ".join(f"JOIN {g.rel} {g.alias} USING (doc_id)" for g in gates)
        carried = "".join(f", k.{c}" for g in gates for c in g.cols)
        kept = f"""kept AS (
  SELECT n.*{scores}
  FROM norm n JOIN gate USING (doc_id) {joins}
)"""
        surv = f"""surv AS (
  SELECT k.doc_id, k.{carry}{carried}
  FROM kept k JOIN grp ON k.doc_id = grp.canonical
)"""
    else:
        kept = "kept AS (SELECT n.* FROM norm n JOIN gate USING (doc_id))"
        surv = (
            f"surv AS (SELECT k.doc_id, k.{carry} "
            "FROM kept k JOIN grp ON k.doc_id = grp.canonical)"
        )
    return f"""WITH norm AS (
  SELECT doc_id, {carry}, {_sql_norm_text()} AS norm_text FROM documents
),
tk AS (SELECT doc_id, {toks_norm} AS toks FROM norm),
{gate_ctes}st AS (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
         list_max(list_transform(list_distinct(toks),
                  w -> len(list_filter(toks, x -> x = w)))) AS topc,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams,
         len(list_filter(toks,
             x -> list_contains(['the','and','of','to','in','is','a'], x))) AS n_stop
  FROM tk
),
gate AS (
  SELECT doc_id
  FROM st
  WHERE NOT (n < 25)
    AND NOT ((CASE WHEN n > 0 THEN CAST(n_stop AS DOUBLE) / n ELSE 0.0 END) < 0.02)
    AND NOT ((CASE WHEN n > 0 THEN CAST(n - nd AS DOUBLE) / n ELSE 0.0 END) > 0.6)
    AND NOT ((CASE WHEN n > 0 THEN CAST(topc AS DOUBLE) / n ELSE 0.0 END) > 0.15)
    AND NOT ((CASE WHEN len(grams) > 0
              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
              ELSE 0.0 END) > 0.08)
),
{kept},
grp AS (
  SELECT md5(regexp_replace(lower(norm_text), '\\s+', ' ', 'g')) AS h,
         MIN(doc_id) AS canonical
  FROM kept GROUP BY 1
),
{surv},"""


def _sql_budget_window(den: int, name: str = "c", extra: str = "") -> str:
    """CTEs b (the token budget: 1/den of t's tokens) and ``name`` (t
    plus cum_before, the tokens ranked ahead by score DESC, doc_id)."""
    return f"""b AS (SELECT CAST(SUM(n_tokens) // {den} AS BIGINT) AS budget FROM t),
{name} AS (
  SELECT doc_id, score, n_tokens{extra},
         CAST(COALESCE(SUM(n_tokens) OVER (
              ORDER BY score DESC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM t
)"""


def _sql_prep_budget(gates: tuple[_PrepGate, ...] = ()) -> str:
    """_prep_budget's oracle: CTEs t, b and c over surv, carrying each
    gate's columns."""
    extra = "".join(f", {c}" for g in gates for c in g.cols)
    scores = extra.replace(", ", ", s.")
    return f"""t AS (
  SELECT s.doc_id, s.n_chars AS score{scores},
         CAST(len(tk.toks) AS BIGINT) AS n_tokens
  FROM surv s JOIN tk USING (doc_id)
),
{_sql_budget_window(2, extra=extra)}"""


@register(
    "corpus_prep_v3_pipeline",
    survey="LLM end-to-end (round-6 operator composition)",
    desc="training-corpus prep v3 — the round-6 ops composed END-TO-END "
    "in one plan: canonical normalization -> Gopher gate on the "
    "normalized text -> exact dedup (min-id survivor) -> quality-"
    "ranked TOKEN-BUDGET selection of the surviving corpus (best half "
    "of surviving tokens, two-phase cumulative sum) -> deterministic "
    "epoch shuffle of the selection into 4 training shards; every "
    "stage is an already-verified operator — this entry checks the "
    "composition, like corpus_prep_v2_pipeline does for round 5",
    oracle=f"""
{_sql_prep_head("n_chars")}
{_sql_prep_budget()},
sel AS (SELECT c.* FROM c, b WHERE c.cum_before < b.budget),
h AS (
  SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), 'ep0')) AS hh FROM sel
),
sh AS (
  SELECT doc_id, hh,
         CAST(((instr('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16
               + (instr('0123456789abcdef', substr(hh, 2, 1)) - 1)) % 4
           AS BIGINT) AS shard
  FROM h
)
SELECT sel.doc_id, sel.score, sel.n_tokens, sel.cum_before, sh.shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY sh.shard ORDER BY sh.hh, sh.doc_id)
            AS BIGINT) AS pos
FROM sel JOIN sh USING (doc_id)
""",
)
def corpus_prep_v3_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist

    survivors = _corpus_prep_survivors(spark, sf_dir, "n_chars")
    selected = tracked_persist(_prep_budget(survivors))
    shards = _sampling.shuffle_shards(selected, n_shards=4, salt="ep0")
    return selected.join(shards, "doc_id").select(
        "doc_id", "score", "n_tokens", "cum_before", "shard", "pos"
    )


@register(
    "corpus_prep_v2_pipeline",
    driver=False,  # r16 window-budget retirement step 1 — see decision note
    survey="LLM end-to-end (round-5 operator composition)",
    desc="training-corpus prep v2, the round-5 ops composed END-TO-END "
    "in one plan: canonical normalization -> Gopher composite gate on "
    "the normalized text -> exact dedup of normalized content "
    "(min-id canonical survivor) -> temperature-balanced domain "
    "mixture of the survivors (budget derived from the surviving "
    "corpus itself, so the same docs replicate at any scale factor); "
    "every stage is the already-verified operator — this entry checks "
    "the composition, like corpus_prep_pipeline does for the round-4 "
    "stages",
    oracle=f"""
{_sql_prep_head("source")}
cnt AS (SELECT source, COUNT(*) AS n_d FROM surv GROUP BY source),
w AS (
  SELECT source, n_d,
         CAST(FLOOR(SQRT(n_d) * 1048576.0) AS BIGINT) AS s_d
  FROM cnt
),
t AS (
  SELECT source, n_d, s_d,
         (SELECT SUM(s_d) FROM w) AS s_tot,
         (SELECT SUM(n_d) FROM cnt) AS total
  FROM w
),
tgt AS (
  SELECT source, n_d, CAST((total * s_d) // s_tot AS BIGINT) AS target_d FROM t
),
ranked AS (
  SELECT s.doc_id, s.source,
         ROW_NUMBER() OVER (
           PARTITION BY s.source
           ORDER BY md5(CAST(s.doc_id AS VARCHAR) || 'mix'), s.doc_id
         ) AS rk
  FROM surv s
),
sized AS (
  SELECT r.doc_id, r.source,
         (g.target_d // g.n_d)
         + CASE WHEN r.rk <= (g.target_d % g.n_d) THEN 1 ELSE 0 END AS n_copies
  FROM ranked r JOIN tgt g USING (source)
)
SELECT doc_id, source, unnest(generate_series(1, n_copies)) AS copy_id
FROM sized
""",
)
def corpus_prep_v2_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _corpus_prep_survivors(
        spark, sf_dir, "source", cols=("doc_id", "source")
    )
    return _sampling.temperature_resample(
        survivors, domain_col="source", id_col="doc_id"
    )


@register(
    "json_variant_extract",
    survey="P-semistructured (Spark-4 VARIANT path)",
    desc="semi-structured extraction through the Spark 4 VARIANT type: "
    "parse_json once, then variant_get typed paths (the open-schema "
    "ingestion path — VARIANT keeps the parsed binary form so repeated "
    "path reads don't re-parse the string, unlike get_json_object "
    "chains); try_variant_get of an absent path stays NULL instead of "
    "erroring — the oracle checks the same semantics via plain JSON "
    "operators",
    oracle="""
SELECT event_id,
       CAST(props->>'$.k' AS BIGINT) AS k,
       CAST(NULL AS BIGINT) AS missing
FROM events
WHERE CAST(props->>'$.k' AS BIGINT) >= 90
""",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    out = ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing"),
    )
    return out.filter(F.col("k") >= 90)


@register(
    "graph_personalized_pagerank",
    survey="J5/U2 (seed-set-relative iterative graph scoring)",
    desc="3-round PERSONALIZED fixed-point PageRank: teleport mass "
    "(init + restart term) restricted to seed vertices {1,2,3} — "
    "importance relative to a seed set, the 'rank addresses as seen "
    "from these wallets' query of a fund-flow investigation; same "
    "BIGINT 1e12 integer arithmetic as graph_pagerank, seed set as an "
    "isin literal (no extra join); top-20 by rank",
    oracle="""
WITH ed AS (
  SELECT DISTINCT user_id AS src, CAST(FLOOR(value) AS BIGINT) % 150 AS dst
  FROM events
),
v AS (SELECT src AS vertex FROM ed UNION SELECT dst FROM ed),
deg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src),
edd AS (SELECT e.src, e.dst, d.outdeg FROM ed e JOIN deg d USING (src)),
r0 AS (
  SELECT vertex,
         CAST(CASE WHEN vertex IN (1, 2, 3) THEN 1000000000000 ELSE 0 END
              AS BIGINT) AS rank_s
  FROM v
),
r1 AS (
  SELECT v.vertex,
         CAST(CASE WHEN v.vertex IN (1, 2, 3) THEN 150000000000 ELSE 0 END
              + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r0 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
),
r2 AS (
  SELECT v.vertex,
         CAST(CASE WHEN v.vertex IN (1, 2, 3) THEN 150000000000 ELSE 0 END
              + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r1 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
),
r3 AS (
  SELECT v.vertex,
         CAST(CASE WHEN v.vertex IN (1, 2, 3) THEN 150000000000 ELSE 0 END
              + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT) AS rank_s
  FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(r.rank_s // e.outdeg) AS in_mass
    FROM edd e JOIN r2 r ON r.vertex = e.src GROUP BY e.dst
  ) m USING (vertex)
)
SELECT vertex, rank_s, CAST(rank_s AS DOUBLE) / 1000000000000 AS rank
FROM r3 ORDER BY rank_s DESC, vertex ASC LIMIT 20
""",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .query.graph import pagerank_fixed_point

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.floor(F.col("value")).cast("bigint") % 150).alias("dst"),
    )
    pr = pagerank_fixed_point(edges, iterations=3, personalization=[1, 2, 3])
    return pr.orderBy(F.desc("rank_s"), F.asc("vertex")).limit(20)


@register(
    "bloom_pruned_join_revenue",
    survey="J4 + runtime-filter pruning (explicit bloom semi-reduction)",
    desc="revenue by high-balance supplier, with the lineitem side "
    "pre-filtered through an 8192-bit portable-integer-hash bloom of "
    "the dimension keys BEFORE the join shuffle — no false negatives, "
    "so the result is exactly the plain join (the oracle); false "
    "positives only cost shuffle volume. The explicit, persistable "
    "twin of AQE's runtime bloom injection",
    oracle="""
SELECT s.s_suppkey, s.s_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_acctbal > 9000
GROUP BY s.s_suppkey, s.s_name
""",
)
def bloom_pruned_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bloom import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey", "s_name")
    )
    joined = bloom_pruned_join(li, supp, "l_suppkey", "s_suppkey")
    return joined.groupBy("s_suppkey", "s_name").agg(
        exact_sum("l_extendedprice", 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "sketch_histogram_quantiles",
    survey="A3/LLM-sketch (mergeable deterministic quantiles)",
    desc="p50/p90/p99 of event value per type from a fixed-bin "
    "histogram sketch (floor(value×8) power-of-two bins): bounded "
    "state, bin-count mergeable, and bit-identical across engines — "
    "the oracle-checkable stand-in for percentile_approx; integer "
    "rank thresholds, estimate = first bin reaching ceil(q·n)",
    oracle="""
WITH bins AS (
  SELECT event_type AS g,
         CAST(FLOOR(CAST(value AS DOUBLE) * 8) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT g, bin,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM bins
)
SELECT g AS event_type,
       -- the windowed SUM yields HUGEINT in DuckDB, which renders as a
       -- float in the hash harness; Spark emits BIGINT — align the types
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS DOUBLE) / 8 AS p50,
       CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS DOUBLE) / 8 AS p90,
       CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS DOUBLE) / 8 AS p99
FROM cum
GROUP BY g
""",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.approx import histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(ev, "value", "event_type")


@register(
    "corpus_prep_pipeline",
    driver=False,  # r16 window-budget retirement step 1 — see decision note
    survey="LLM end-to-end (line dedup → quality gate → exact dedup → packing)",
    desc="the full pretraining corpus-prep chain as ONE plan: C4-style "
    "repeated-line removal (relative cutoff: a line is boilerplate in "
    ">5% of docs — integer-exact (n+19) div 20, robust across scale "
    "factors), a structural quality gate (≥2 surviving lines), exact "
    "dedup of the CLEANED text (min-id canonical survivor), then "
    "greedy sharded sequence packing of the survivors into 512-token "
    "bins — every stage the scale-safe shape, one composed oracle",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
tok_rows AS (
  SELECT doc_id,
         unnest(range(1, len(t) + 1)) - 1 AS pos,
         unnest(t) AS token
  FROM toks
),
lines AS (
  SELECT doc_id, pos // 2 AS line_no,
         string_agg(token, ' ' ORDER BY pos) AS line_text
  FROM tok_rows GROUP BY doc_id, pos // 2
),
ldf AS (
  SELECT line_text, COUNT(DISTINCT doc_id) AS line_df
  FROM lines GROUP BY line_text
),
kept_agg AS (
  SELECT l.doc_id,
         string_agg(l.line_text, ' ' ORDER BY l.line_no) AS clean_text,
         COUNT(*) AS n_lines_kept
  FROM lines l JOIN ldf USING (line_text)
  WHERE ldf.line_df <= ((SELECT COUNT(*) FROM documents) + 19) // 20
  GROUP BY l.doc_id
),
quality AS (
  SELECT doc_id, clean_text FROM kept_agg WHERE n_lines_kept >= 2
),
canon AS (
  SELECT md5(clean_text) AS h, MIN(doc_id) AS keep_id
  FROM quality GROUP BY 1
),
survivors AS (
  SELECT q.doc_id, q.clean_text
  FROM quality q JOIN canon c ON q.doc_id = c.keep_id
),
t AS (
  SELECT doc_id, doc_id % 4 AS shard,
         CAST(len(list_filter(string_split(clean_text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM survivors
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM t
)
SELECT doc_id, shard, n_tokens,
       CAST(cum_before // 512 AS BIGINT) AS pack_id,
       CAST(cum_before % 512 AS BIGINT) AS pack_offset
FROM cum
""",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    # 5% of docs, integer ceil — derived IN-PLAN as a broadcast scalar
    # relation (r6 verdict #2: a driver-side docs.count() here was one
    # extra full corpus scan per invocation; at 100 TB, a wasted pass)
    rel_df = docs.agg(F.expr("(count(1) + 19) div 20").alias("max_line_df"))
    cleaned = _text.line_dedup(docs, line_tokens=2, max_line_df=rel_df)
    # quality feeds two branches (canonical-hash groups + the semi-join
    # back); without a persist the whole line_dedup subplan executes
    # twice per action
    quality = tracked_persist(
        cleaned.filter(F.col("n_lines_kept") >= 2).select("doc_id", "clean_text")
    )
    canon = quality.groupBy(F.md5("clean_text").alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    survivors = quality.join(
        canon, quality.doc_id == canon.keep_id, "left_semi"
    ).select("doc_id", F.col("clean_text").alias("text"))
    return _packing.assign_packs(survivors, budget=512, n_shards=4)


@register(
    "pointintime_dim_lookup",
    survey="J4/§2.10 (temporal FK resolution against an SCD2 dimension)",
    desc="each order resolved against the customer-dimension VERSION "
    "valid at its order date (two synthetic SCD2 versions split at "
    "1996-07-01, balances +100 for custkey%3=0 in v2): equi join on "
    "the key with a validity-interval residual — the point-in-time "
    "lookup every versioned-dim warehouse runs; distinct from event-"
    "to-event as-of (asof_last_purchase)",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_acctbal,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 3 = 0
              THEN TIMESTAMP '1996-07-01 00:00:00' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 100,
         TIMESTAMP '1996-07-01 00:00:00',
         CAST(NULL AS TIMESTAMP)
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT o.o_orderkey, o.o_custkey, d.c_acctbal AS acctbal_at_order
FROM orders o
JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND d.valid_from <= o.o_orderdate
 AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
""",
)
def pointintime_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey",
        "c_acctbal",
        F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"),
        ).alias("valid_to"),
    )
    v2 = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100)).alias("c_acctbal"),
            F.lit("1996-07-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        )
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (orders.o_custkey == dim.c_custkey)
        & (dim.valid_from <= orders.o_orderdate)
        & (dim.valid_to.isNull() | (orders.o_orderdate < dim.valid_to))
    )
    return orders.join(dim, cond).select(
        "o_orderkey", "o_custkey", F.col("c_acctbal").alias("acctbal_at_order")
    )


@register(
    "mixture_domain_resample",
    survey="LLM-sampling (temperature mixture)",
    desc="temperature-balanced domain mixture (tau=0.5): each source's "
    "row budget is proportional to sqrt(n_d) — tail sources upsample, "
    "dominant ones downsample — with BIGINT-exact budgets and a "
    "deterministic md5-ranked remainder rule, materialized by one "
    "explode(sequence(1, n_copies)); the standard multilingual/"
    "multi-source rebalancing step before training-corpus assembly",
    oracle="""
WITH n AS (SELECT source, COUNT(*) AS n_d FROM documents GROUP BY source),
w AS (
  SELECT source, n_d,
         CAST(FLOOR(SQRT(n_d) * 1048576.0) AS BIGINT) AS s_d
  FROM n
),
t AS (
  SELECT source, n_d, s_d,
         (SELECT SUM(s_d) FROM w) AS s_tot,
         (SELECT SUM(n_d) FROM n) AS total
  FROM w
),
tgt AS (
  -- DuckDB promotes BIGINT*BIGINT to HUGEINT; cast back so the copy
  -- arithmetic (and generate_series) stays BIGINT like the Spark plan
  SELECT source, n_d, CAST((total * s_d) // s_tot AS BIGINT) AS target_d FROM t
),
ranked AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || 'mix'), d.doc_id
         ) AS rk
  FROM documents d
),
sized AS (
  SELECT r.doc_id, r.source,
         (g.target_d // g.n_d)
         + CASE WHEN r.rk <= (g.target_d % g.n_d) THEN 1 ELSE 0 END AS n_copies
  FROM ranked r JOIN tgt g USING (source)
)
SELECT doc_id, source, unnest(generate_series(1, n_copies)) AS copy_id
FROM sized
""",
)
def mixture_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_resample(docs, domain_col="source", id_col="doc_id")


def _text_normalize_oracle() -> str:
    norm = _sql_norm_text()
    return f"""
SELECT doc_id,
       {norm} AS norm_text,
       ({norm} <> text) AS changed,
       CAST(length(text) - length({norm}) AS BIGINT) AS chars_removed
FROM documents
"""


@register(
    "dedup_incremental_embedding",
    survey="LLM-dedup (incremental embedding dedup against a persisted bucket store)",
    desc="two-day arrival for EMBEDDING near-dup (the vector twin of "
    "dedup_incremental_minhash): even vec_ids land on day 1 and their "
    "LSH-bucketed store (id, vec, bucket, norm) persists; day 2's "
    "odd-id batch is hashed alone and bucket-joined against the store "
    "— O(|batch|) daily cost, never a corpus rescan; double-math "
    "prefilter + exact-decimal rescore keeps scores bit-identical to "
    "the one-shot path; plane count pinned by the store (4)",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket('embedding', dim=64, n_planes=4)} AS blk
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS new_id, s.vec_id AS existing_id,
         {_sql_cosine('a.embedding', 's.embedding')} AS cosine
  FROM b a JOIN b s ON a.blk = s.blk
  WHERE a.vec_id % 2 = 1 AND s.vec_id % 2 = 0
)
SELECT new_id, existing_id, cosine FROM scored WHERE cosine >= 0.3
""",
)
def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.dedup import build_embedding_store, incremental_embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    store = build_embedding_store(day1, dim=64, n_planes=4)
    pairs, _updated = incremental_embedding_dedup(
        day2, store, dim=64, threshold=0.3, n_planes=4
    )
    return pairs


@register(
    "quality_gopher_gate",
    survey="LLM-text (composite quality gate)",
    desc="Gopher-style composite quality gate: min length, stopword "
    "floor, dup-word/dominant-word/dup-bigram ceilings — keep boolean "
    "plus a sorted `reasons` audit array naming every violated rule; "
    "ONE projection over one scan (composing the component stat "
    "operators would re-scan and self-join for per-row expressions)",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
         list_max(list_transform(list_distinct(toks),
                  w -> len(list_filter(toks, x -> x = w)))) AS topc,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams,
         len(list_filter(toks,
             x -> list_contains(['the','and','of','to','in','is','a'], x))) AS n_stop
  FROM t
),
r AS (
  SELECT doc_id, n,
         CASE WHEN n > 0 THEN CAST(n - nd AS DOUBLE) / n ELSE 0.0 END AS dup_word,
         CASE WHEN n > 0 THEN CAST(topc AS DOUBLE) / n ELSE 0.0 END AS top_word,
         CASE WHEN len(grams) > 0
              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
              ELSE 0.0 END AS dup_bigram,
         CASE WHEN n > 0 THEN CAST(n_stop AS DOUBLE) / n ELSE 0.0 END AS stop_ratio
  FROM s
),
g AS (
  SELECT doc_id, n,
         list_sort(list_filter([
           CASE WHEN n < 25 THEN 'too_few_words' END,
           CASE WHEN stop_ratio < 0.02 THEN 'low_stopword_ratio' END,
           CASE WHEN dup_word > 0.6 THEN 'dup_words' END,
           CASE WHEN top_word > 0.15 THEN 'dominant_word' END,
           CASE WHEN dup_bigram > 0.08 THEN 'dup_bigrams' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM r
)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       len(reasons) = 0 AS keep,
       COALESCE(array_to_string(reasons, ','), '') AS reasons
FROM g
""",
)
def quality_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-split corpus: spread the gate's heavy per-row work (the
    # O(distinct²) dominant-word scan) across cores — the operator
    # itself stays shuffle-free; parallelism is the caller's call
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    gated = _text.gopher_quality_gate(docs)
    # the hash harness compares scalars; the sorted audit array joins
    # to a canonical string (the library output keeps the typed array)
    return gated.select(
        "doc_id", "n_words", "keep", F.array_join("reasons", ",").alias("reasons")
    )


@register(
    "dedup_best_quality_survivors",
    survey="LLM-dedup (quality-aware canonicalization)",
    desc="dedup pipeline with QUALITY-AWARE survivor selection: "
    "MinHash-LSH candidates -> estimate verification -> connected "
    "components -> keep the HIGHEST-quality_scores member per cluster "
    "(min-id tiebreak) instead of the min id — what production corpus "
    "prep actually wants (drop the worse copy, not the later one); "
    "quality ordering is bit-portable because the score expression "
    "hash-matches cross-engine (text_quality)",
    oracle=f"""
WITH RECURSIVE sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
  WHERE ({_SQL_EST_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
clusters AS (SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v),
q AS (
  SELECT doc_id,
         least(1.0, len({_SQL_TOKS}) / 50.0) * 0.4
         + least(1.0, (CASE WHEN len({_SQL_TOKS}) > 0
                 THEN len(list_filter({_SQL_TOKS},
                      x -> list_contains(['the','and','of','to','in','is','a'], x)))
                      / len({_SQL_TOKS}) ELSE 0.0 END) * 5.0) * 0.3
         + (1.0 - least(1.0, (CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) / length(text)
                 ELSE 0.0 END) * 4.0)) * 0.3 AS quality_score
  FROM documents
),
ranked AS (
  SELECT c.doc,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc ASC) AS rn
  FROM clusters c JOIN q ON q.doc_id = c.doc
),
removed AS (SELECT doc FROM ranked WHERE rn > 1)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc FROM removed)
""",
)
def dedup_best_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.clusters import connected_clusters
    from .llmdata.dedup import minhash_lsh_pairs
    from .llmdata.text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.5)
    clusters = connected_clusters(pairs)
    quality = quality_scores(docs).select("doc_id", "quality_score")
    ranked = (
        clusters.join(quality, clusters.doc == quality.doc_id)
        .select("doc", "cluster_id", "quality_score")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("quality_score"), F.asc("doc")
                )
            ),
        )
    )
    removed = ranked.filter(F.col("rn") > 1).select("doc")
    return docs.join(removed, docs.doc_id == removed.doc, "left_anti").select(
        "doc_id", "lang"
    )


@register(
    "dedup_repeated_ngram_spans",
    survey="LLM-dedup (cross-doc span duplication, Lee et al. shape)",
    desc="per-document duplicated 5-gram-SPAN statistics: a window "
    "counts as duplicated iff its shingle occurs in >= 2 distinct "
    "documents (cross-doc boilerplate at span level, finer than "
    "line_dedup's exact lines; within-doc repetition excluded — "
    "that's text_repetition); every window position kept, so "
    "dup_fraction weighs a shingle by how often the doc uses it",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
win AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, greatest(len(t) - 5 + 1, 0) + 1),
                i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS feat
  FROM toks
),
dfreq AS (SELECT feat, COUNT(DISTINCT doc) AS n_docs FROM win GROUP BY feat),
per AS (
  SELECT w.doc, COUNT(*) AS n_windows,
         SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_windows
  FROM win w JOIN dfreq f USING (feat) GROUP BY w.doc
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CASE WHEN COALESCE(p.n_windows, 0) > 0
            THEN p.n_dup_windows / p.n_windows ELSE 0.0
       END AS dup_fraction
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc
""",
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.repeated_ngram_stats(docs, n=5)


@register(
    "dedup_span_removal",
    survey="LLM-dedup (exact-substring span removal, Lee et al. 2022)",
    desc="cross-document exact-substring REMOVAL — the action step on "
    "top of dedup_repeated_ngram_spans' measurement: every token "
    "covered by a 5-gram window whose shingle occurs in >= 2 distinct "
    "documents is cut unless the doc is the shingle's minimum-doc-id "
    "canonical owner (each duplicated span survives exactly once "
    "corpus-wide); position coverage is a single rows-between max over "
    "the per-doc sort (dense posexplode positions, no n-fold explode), "
    "reassembly one ordered hash-agg per doc",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
win AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, greatest(len(t) - 5 + 1, 0) + 1),
                i -> struct_pack(s := i,
                       f := array_to_string(list_slice(t, i, i + 4), ' ')))) AS w
  FROM toks
),
win2 AS (SELECT doc, CAST(w.s AS BIGINT) AS start, w.f AS feat FROM win),
stats AS (
  SELECT feat, COUNT(DISTINCT doc) AS n_docs, MIN(doc) AS canon
  FROM win2 GROUP BY feat
),
pos AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, len(t) + 1),
                p -> struct_pack(p := p, tok := t[p]))) AS q
  FROM toks
),
pos2 AS (SELECT doc, CAST(q.p AS BIGINT) AS pos, q.tok AS token FROM pos),
cuts AS (
  SELECT DISTINCT w.doc, p.pos
  FROM win2 w
  JOIN stats s USING (feat)
  JOIN pos2 p ON p.doc = w.doc AND p.pos BETWEEN w.start AND w.start + 4
  WHERE s.n_docs >= 2 AND w.doc <> s.canon
),
kept AS (
  SELECT p.doc, p.pos, p.token
  FROM pos2 p LEFT JOIN cuts c ON p.doc = c.doc AND p.pos = c.pos
  WHERE c.pos IS NULL
),
per AS (
  SELECT doc, string_agg(token, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_tokens_kept
  FROM kept GROUP BY doc
)
SELECT tk.doc_id,
       COALESCE(per.clean_text, '') AS clean_text,
       CAST(COALESCE(per.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(tk.t) - COALESCE(per.n_tokens_kept, 0) AS BIGINT)
         AS n_tokens_removed
FROM toks tk LEFT JOIN per ON per.doc = tk.doc_id
""",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _dedup.remove_duplicated_spans(docs, n=5)


@register(
    "ann_pq_topk",
    survey="LLM-similarity (product quantization / ADC)",
    desc="product-quantization ANN: 4 subspaces x 16-codeword seed "
    "codebooks (the ivf seed vectors sliced per subspace), scan-side "
    "fixed-point-BIGINT argmin encoding (floor(diff^2 * 2^24) per "
    "dim — long math that stays codegen'd where a decimal fold "
    "cannot), then asymmetric-distance top-10 via a constant-folded "
    "m x ksub lookup table probed by element_at — codes are m "
    "smallints (16 bytes -> 4) so the rerank tier fits in RAM at "
    "vector-store scale",
    oracle=f"""
WITH n AS (SELECT GREATEST(COUNT(*) // 16, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 16
),
js AS (SELECT unnest(range(0, 4)) AS j),
cb AS (SELECT c, j, cv[j*16+1 : j*16+16] AS cbv FROM cent, js),
sub AS (
  SELECT e.vec_id, j.j, e.embedding[j.j*16+1 : j.j*16+16] AS sv
  FROM embeddings e, js j
),
q AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
dists AS (
  SELECT s.vec_id, s.j, cb.c, {_sql_q_dist('s.sv', 'cb.cbv')} AS d
  FROM sub s JOIN cb ON s.j = cb.j
),
codes AS (
  SELECT vec_id, j, c
  FROM (SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
scored AS (
  SELECT co.vec_id,
         CAST(SUM({_sql_q_dist('q.qv', 'cb.cbv')}) AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN cb ON co.j = cb.j AND co.c = cb.c
  JOIN q ON q.j = co.j
  GROUP BY co.vec_id
)
SELECT vec_id, adc FROM scored ORDER BY adc ASC, vec_id ASC LIMIT 10
""",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.pq import pq_adc_topk, seed_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = seed_pq_codebooks(emb, dim=64, m=4, ksub=16)
    # the vec_id=0 query vector IS the first seed codeword of every
    # subspace concatenated (seeds are every ⌊n/16⌋-th row by id
    # starting at 0, sliced per subspace) — reassemble it from the
    # collected codebooks instead of paying a second head() scan job
    qv = [float(v) for j in range(books.shape[0]) for v in books[j][0]]
    return pq_adc_topk(emb, books, qv, k=10)


@register(
    "ann_ivfpq_topk",
    survey="LLM-similarity (IVF-PQ composition)",
    desc="IVF-PQ ANN (the billion-vector-store composition): 8 coarse "
    "seed centroids partition the corpus, residuals (vector minus "
    "assigned centroid) are PQ-coded against 4x16 seed codebooks "
    "derived from the residual relation, and search probes the 2 "
    "nearest lists scoring members by fixed-point ADC between the "
    "per-list QUERY RESIDUAL and each member's codeword — coarse "
    "argmin exact-decimal, PQ/ADC fixed-point 2^-24, every stage "
    "re-derived by the oracle from the same table",
    oracle=f"""
WITH n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
adists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS ivf_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM adists)
  WHERE rn = 1
),
res AS (
  SELECT a.vec_id, a.ivf_cluster,
         list_transform(list_zip(a.embedding, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rv
  FROM assigned a JOIN cent ct ON ct.c = a.ivf_cluster
),
n2 AS (SELECT GREATEST(COUNT(*) // 16, 1) AS step FROM embeddings),
seedv AS (
  SELECT ROW_NUMBER() OVER (ORDER BY r.vec_id) - 1 AS sc, r.rv
  FROM res r, n2
  WHERE r.vec_id % n2.step = 0
  ORDER BY r.vec_id
  LIMIT 16
),
js AS (SELECT unnest(range(0, 4)) AS j),
cb AS (SELECT sc AS c, j, rv[j*16+1 : j*16+16] AS cbv FROM seedv, js),
sub AS (
  SELECT r.vec_id, r.ivf_cluster, j.j, r.rv[j.j*16+1 : j.j*16+16] AS sv
  FROM res r, js j
),
cdists AS (
  SELECT s.vec_id, s.j, cb.c, {_sql_q_dist('s.sv', 'cb.cbv')} AS d
  FROM sub s JOIN cb ON s.j = cb.j
),
codes AS (
  SELECT vec_id, j, c
  FROM (SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM cdists)
  WHERE rn = 1
),
probes AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {_sql_sq_dist('cent.cv', 'q.qv')} ASC, cent.c ASC
  LIMIT 2
),
qres AS (
  SELECT ct.c,
         list_transform(list_zip(q.qv, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qrv
  FROM cent ct JOIN probes p ON ct.c = p.c, q
),
scored AS (
  SELECT r.vec_id,
         CAST(SUM({_sql_q_dist('list_slice(qr.qrv, co.j*16+1, co.j*16+16)', 'cb.cbv')})
              AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN res r ON r.vec_id = co.vec_id
  JOIN qres qr ON qr.c = r.ivf_cluster
  JOIN cb ON cb.j = co.j AND cb.c = co.c
  GROUP BY r.vec_id
)
SELECT vec_id, adc FROM scored ORDER BY adc ASC, vec_id ASC LIMIT 10
""",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.ivf import seed_centroids
    from .llmdata.pq import ivfpq_adc_topk, seed_pq_codebooks_residual

    from .llmdata.stats import corpus_stats

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE shared count for both seed derivations (guide §1.2) — the
    # residual frame is row-preserving, so its count equals emb's
    st = corpus_stats(emb, vec_col=None)
    cents = seed_centroids(emb, n_centroids=8, stats=st)
    # the vec_id=0 query vector IS the first seed centroid (seeds are
    # every ⌊n/8⌋-th row by id starting at 0) — reuse the collected
    # value instead of paying a second scan job for head()
    qv = [float(v) for v in cents[0]]
    # residual seeds replayed driver-side (bit-identical; the Spark-side
    # residual pass paid the argmin plan's analysis+codegen for a
    # ksub-row collect — see seed_pq_codebooks_residual)
    books = seed_pq_codebooks_residual(
        emb, cents, dim=64, m=4, ksub=16, stats=st
    )
    return ivfpq_adc_topk(emb, cents, books, qv, k=10, n_probe=2)


@register(
    "ann_ivfpq_incremental",
    survey="LLM-similarity (incremental IVF-PQ index maintenance)",
    desc="the daily-ingest ANN maintenance path (r12 verdict stretch "
    "#7): centroids + PQ codebooks are FROZEN on the initial corpus "
    "(vec_id % 4 != 0), the prebuilt index is appended with the "
    "arriving quarter encoded against those frozen artifacts through "
    "the _dedup_store_union write-back (store left_anti broadcast "
    "batch-keys ∪ batch — one row per key on replay, the store never "
    "shuffles), and the probe runs over the appended index. The "
    "oracle re-derives the SAME search from scratch with no store at "
    "all — seeds from the initial subset, encode + ADC over the full "
    "corpus — so a hash match proves append == rebuild bit-exactly",
    oracle=f"""
WITH init AS (SELECT * FROM embeddings WHERE vec_id % 4 <> 0),
n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM init),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM init e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
adists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS ivf_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM adists)
  WHERE rn = 1
),
res AS (
  SELECT a.vec_id, a.ivf_cluster,
         list_transform(list_zip(a.embedding, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rv
  FROM assigned a JOIN cent ct ON ct.c = a.ivf_cluster
),
n2 AS (SELECT GREATEST(COUNT(*) // 16, 1) AS step FROM init),
seedv AS (
  SELECT ROW_NUMBER() OVER (ORDER BY r.vec_id) - 1 AS sc, r.rv
  FROM res r, n2
  WHERE r.vec_id % n2.step = 0 AND r.vec_id % 4 <> 0
  ORDER BY r.vec_id
  LIMIT 16
),
js AS (SELECT unnest(range(0, 4)) AS j),
cb AS (SELECT sc AS c, j, rv[j*16+1 : j*16+16] AS cbv FROM seedv, js),
sub AS (
  SELECT r.vec_id, r.ivf_cluster, j.j, r.rv[j.j*16+1 : j.j*16+16] AS sv
  FROM res r, js j
),
cdists AS (
  SELECT s.vec_id, s.j, cb.c, {_sql_q_dist('s.sv', 'cb.cbv')} AS d
  FROM sub s JOIN cb ON s.j = cb.j
),
codes AS (
  SELECT vec_id, j, c
  FROM (SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM cdists)
  WHERE rn = 1
),
probes AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {_sql_sq_dist('cent.cv', 'q.qv')} ASC, cent.c ASC
  LIMIT 2
),
qres AS (
  SELECT ct.c,
         list_transform(list_zip(q.qv, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qrv
  FROM cent ct JOIN probes p ON ct.c = p.c, q
),
scored AS (
  SELECT r.vec_id,
         CAST(SUM({_sql_q_dist('list_slice(qr.qrv, co.j*16+1, co.j*16+16)', 'cb.cbv')})
              AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN res r ON r.vec_id = co.vec_id
  JOIN qres qr ON qr.c = r.ivf_cluster
  JOIN cb ON cb.j = co.j AND cb.c = co.c
  GROUP BY r.vec_id
)
SELECT vec_id, adc FROM scored ORDER BY adc ASC, vec_id ASC LIMIT 10
""",
)
def ann_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.ivf import seed_centroids
    from .llmdata.pq import (
        ivfpq_adc_topk_from_index,
        ivfpq_encode,
        ivfpq_index_append,
        seed_pq_codebooks_residual,
    )
    from .llmdata.stats import corpus_stats

    emb = load_table(spark, sf_dir, "embeddings")
    initial = emb.filter(F.col("vec_id") % 4 != 0)
    arriving = emb.filter(F.col("vec_id") % 4 == 0)
    # ONE shared count feeds both seed derivations (guide §1.2): the
    # residual frame is row-preserving over `initial`, so its count is
    # initial's count by construction — the unshared form paid a second
    # count() action through the residual plan's codegen.
    st = corpus_stats(initial, vec_col=None)
    cents = seed_centroids(initial, n_centroids=8, stats=st)
    # residual seeds replayed driver-side (bit-identical — see
    # seed_pq_codebooks_residual)
    books = seed_pq_codebooks_residual(
        initial, cents, dim=64, m=4, ksub=16, stats=st
    )
    store = ivfpq_encode(initial, cents, books)
    appended = ivfpq_index_append(store, arriving, cents, books)
    # vec_id=0 arrives incrementally (0 % 4 == 0) — the query probes a
    # vector the frozen codebooks never saw at train time
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return ivfpq_adc_topk_from_index(appended, cents, books, qv, k=10, n_probe=2)


@register(
    "dedup_semantic_semdedup",
    survey="LLM-dedup (SemDeDup semantic pruning)",
    desc="SemDeDup-style semantic dedup: k-means-codebook clusters "
    "(deterministic 8-centroid seed codebook, exact-decimal argmin "
    "assignment) then within-cluster cosine pruning — every vector "
    "with cosine >= 0.3 to a lower-id cluster member drops, one "
    "min-id representative survives per neighborhood; pair work is "
    "cluster-blocked (never all-pairs), survivors via one anti join",
    oracle=f"""
WITH n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
dists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS sem_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b
    ON a.sem_cluster = b.sem_cluster AND a.vec_id < b.vec_id
  WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3
)
SELECT a.vec_id, CAST(a.sem_cluster AS INT) AS sem_cluster
FROM assigned a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
""",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.dedup import semantic_dedup_survivors
    from .llmdata.ivf import seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = seed_centroids(emb, n_centroids=8)
    return semantic_dedup_survivors(emb, centroids, threshold=0.3, dim=64)


@register(
    "text_normalize",
    survey="LLM-text (canonical normalization)",
    desc="canonical text normalization (control-char strip, lowercase, "
    "position-aligned accent-fold translate map, whitespace collapse) "
    "— the stage-zero map every corpus pipeline runs so downstream "
    "dedup keys and shingles agree across crawls; pure scan-side "
    "Column pipeline, the explicit translate map is engine-portable "
    "where locale-dependent ICU/NFKD normalizers are not",
    oracle=_text_normalize_oracle(),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    return normalize_text(docs)


# ---------------------------------------------------------------------------
# Round-6 operators: native recursive CTE, token-budget selection,
# diversity sampling, DSIR-shaped importance scoring
# ---------------------------------------------------------------------------


@register(
    "trace_recursive_cte",
    survey="J5,U2 (native WITH RECURSIVE — Spark 4 recursive CTE)",
    desc="3-hop fund trace as a NATIVE recursive CTE (spark.sql WITH "
    "RECURSIVE, new in Spark 4) — the literal form of the reference's "
    "recursive trace SQL (transaction_tracing/app.py:338-375), where "
    "j5_trace_2hop re-expresses it as a driver loop; path multiplicity "
    "preserved (UNION ALL), hop-capped in the recursive predicate; the "
    "engine plans the iteration itself. The driver-loop form remains "
    "the production path (per-hop budget guards, lineage checkpoints, "
    "OOM fallback — query/trace.py); this entry proves the declarative "
    "twin agrees",
    oracle=f"""
WITH RECURSIVE edges AS ({_TRACE_EDGE_SQL}),
hops(hop, src, dst, tx_hash, tx_time) AS (
  SELECT CAST(1 AS BIGINT), src, dst, tx_hash, tx_time FROM edges WHERE src = 7
  UNION ALL
  SELECT h.hop + 1, e.src, e.dst, e.tx_hash, e.tx_time
  FROM edges e JOIN hops h ON h.dst = e.src
  WHERE h.hop < 3
)
SELECT hop, src, dst, tx_hash, tx_time FROM hops
""",
)
def trace_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trace_edges(spark, sf_dir)
    edges.createOrReplaceTempView("trace_edges_rcte")
    return spark.sql(
        """
WITH RECURSIVE hops(hop, src, dst, tx_hash, tx_time) AS (
  SELECT CAST(1 AS BIGINT), src, dst, tx_hash, tx_time
  FROM trace_edges_rcte WHERE src = 7
  UNION ALL
  SELECT h.hop + 1, e.src, e.dst, e.tx_hash, e.tx_time
  FROM trace_edges_rcte e JOIN hops h ON h.dst = e.src
  WHERE h.hop < 3
)
SELECT hop, src, dst, tx_hash, tx_time FROM hops
"""
    )


@register(
    "corpus_token_budget",
    survey="LLM-sampling (quality-ranked token-budget selection)",
    desc="select the highest-quality docs until a corpus-wide token "
    "budget (total_tokens div 5, derived in-plan): the 'train on the "
    "best X% of tokens' primitive. The Spark plan computes the global "
    "ordered cumulative sum in TWO phases (per-score totals + running "
    "sum over O(distinct scores) rows, then a within-score window) — "
    "bit-identical BIGINTs to the single global window the oracle "
    "writes, without the single-reducer sort that window implies",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars AS score,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
{_sql_budget_window(5)}
SELECT c.doc_id, c.score, c.n_tokens, c.cum_before
FROM c, b WHERE c.cum_before < b.budget
""",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import quality_budget_select

    docs = load_table(spark, sf_dir, "documents")
    return quality_budget_select(docs, score_col="n_chars", budget_den=5)


@register(
    "sample_cluster_balanced",
    survey="LLM-sampling (embedding-space diversity sampling)",
    desc="cluster-balanced (diversity) sampling: at most 20 vectors "
    "per hyperplane-LSH bucket, deterministically by ascending id — "
    "keeps a training mix from being dominated by one dense embedding "
    "region (DataComp-style balanced subset); one bucket-keyed "
    "shuffle, per-bucket window bounded by the plane count",
    oracle=f"""
WITH b AS (
  SELECT vec_id,
         CAST({_sql_lsh_bucket('embedding', dim=64, n_planes=4)} AS BIGINT) AS bucket
  FROM embeddings
),
r AS (
  SELECT vec_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id ASC)
              AS BIGINT) AS bucket_rank
  FROM b
)
SELECT vec_id, bucket, bucket_rank FROM r WHERE bucket_rank <= 20
""",
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, per_bucket=20, n_planes=4, seed=7, dim=64)


def _sql_kcenter_oracle(k: int) -> str:
    """Greedy k-center unrolled into k chained CTEs: s0 = min-id seed;
    round i computes every vector's exact-decimal min squared distance
    to the selected set (least() folds round-over-round, exactly the
    F.least accumulation Spark runs) and picks (dist DESC, vec_id ASC)
    LIMIT 1 — the iterative algorithm as static SQL, the same
    unrolling trick as the recursive-CC oracles. Assumes k is well
    under the table's distinct-vector count (the operator early-stops
    at coverage radius 0; the unrolled SQL has no break)."""
    parts = [
        "WITH e AS (SELECT vec_id, embedding FROM embeddings)",
        ", s0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)",
        ", d1 AS (SELECT e.vec_id, e.embedding, "
        f"{_sql_sq_dist('e.embedding', 's0.embedding')} AS dist FROM e, s0)",
    ]
    for i in range(1, k):
        parts.append(
            f", s{i} AS (SELECT vec_id, embedding FROM d{i} "
            "ORDER BY dist DESC, vec_id ASC LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f", d{i + 1} AS (SELECT d{i}.vec_id, d{i}.embedding, "
                f"least(d{i}.dist, "
                f"{_sql_sq_dist(f'd{i}.embedding', f's{i}.embedding')}) "
                f"AS dist FROM d{i}, s{i})"
            )
    sels = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_rank, vec_id FROM s{i}"
        for i in range(k)
    )
    return "\n".join(parts) + "\n" + sels


@register(
    "sample_kcenter_coreset",
    survey="LLM-sampling (diversity coreset: greedy k-center)",
    desc="Gonzalez greedy k-center over the embedding table (k=8): "
    "seed at the min id, then repeatedly select the vector FURTHEST "
    "from the selected set — exact-decimal squared distances, total "
    "(dist DESC, id ASC) tie order, k driver rounds of one scan + one "
    "1-row collect each (the Lloyd-loop contract). The oracle unrolls "
    "the k rounds into chained CTEs with the same least() fold, so "
    "the hash match pins every round's argmax",
    oracle=_sql_kcenter_oracle(8),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import kcenter_select

    emb = load_table(spark, sf_dir, "embeddings")
    ids = kcenter_select(emb, k=8)
    return spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(ids)],
        "sel_rank bigint, vec_id bigint",
    )


@register(
    "sample_dsir_scores",
    survey="LLM-sampling (DSIR-shaped hashed-feature importance scores)",
    desc="hashed-token importance scores for target-distribution data "
    "selection (DSIR shape, Xie et al. 2023): per 256-bucket md5 "
    "feature, the add-1-smoothed target/raw frequency ratio quantized "
    "to 2^20 integers; per-doc score = exact BIGINT sum over token "
    "occurrences (integer ratios, not log-ratios — ln() is not "
    "bit-portable across engines; same monotone signal). Target slice "
    "= lang='en'. Composes with importance_sample for the resampling "
    "step",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_target, unnest({_SQL_TOKS}) AS token
  FROM documents
),
tb AS (
  SELECT token,
         CAST(((instr('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substring(md5(token), 2, 1)) - 1)) % 256
           AS BIGINT) AS bucket
  FROM (SELECT DISTINCT token FROM toks)
),
wb AS (SELECT t.doc_id, t.is_target, tb.bucket FROM toks t JOIN tb USING (token)),
freq AS (
  SELECT bucket,
         COUNT(*) AS cnt_raw,
         COUNT(CASE WHEN is_target THEN 1 END) AS cnt_target
  FROM wb GROUP BY bucket
),
ratio AS (
  SELECT bucket, ((cnt_target + 1) * 1048576) // (cnt_raw + 1) AS ratio_q
  FROM freq
)
SELECT wb.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(r.ratio_q) AS BIGINT) AS dsir_score
FROM wb JOIN ratio r USING (bucket)
GROUP BY wb.doc_id
""",
)
def sample_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import dsir_proxy_scores

    docs = load_table(spark, sf_dir, "documents")
    return dsir_proxy_scores(docs, target_filter=F.col("lang") == "en")


@register(
    "sample_leakage_safe_split",
    survey="LLM-sampling (dedup-group-keyed train/val/test split)",
    desc="train/val/test assignment keyed on the duplicate-group "
    "canonical id, not the document id — two copies of the same "
    "content can never straddle the train/eval boundary (the split-"
    "leakage failure mode that inflates eval scores). Exact content "
    "groups here (oracle-checkable); the near-dup variant keys on "
    "connected_clusters output (pytest-verified composition)",
    oracle=r"""
WITH keyed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
  FROM documents
),
canon AS (SELECT k, MIN(doc_id) AS canonical_id FROM keyed GROUP BY k),
assigned AS (
  SELECT keyed.doc_id, canon.canonical_id FROM keyed JOIN canon USING (k)
)
SELECT doc_id, canonical_id,
       CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 2) < '0c' THEN 'val'
            WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
            ELSE 'train' END AS split
FROM assigned
""",
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs)


@register(
    "dedup_semdedup_vectorized",
    survey="LLM-dedup (SemDeDup, vectorized execution strategy)",
    desc="the SAME SemDeDup operator as dedup_semantic_semdedup — "
    "identical codebook, assignment semantics, threshold, survivor "
    "rule — executed through the 100 TB strategy: Arrow-batched numpy "
    "assignment + per-cluster BLAS gram matrices (applyInPandas), no "
    "pair join. Hash-compared against the SAME exact-decimal oracle: "
    "float64 linear algebra reproduces the decimal results bit-for-bit "
    "on this corpus (an adversarial ~1e-15 near-tie could flip — the "
    "decimal Column form remains the tie-breaking contract; this row "
    "proves the scale path's fidelity, 27.6s -> 0.86s at 10x)",
    oracle=f"""
WITH n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
dists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {{_sql_sq_dist}} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS sem_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b
    ON a.sem_cluster = b.sem_cluster AND a.vec_id < b.vec_id
  WHERE {{_sql_cosine}} >= 0.3
)
SELECT a.vec_id, CAST(a.sem_cluster AS INT) AS sem_cluster
FROM assigned a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
""".format(
        _sql_sq_dist=_sql_sq_dist("e.embedding", "cent.cv"),
        _sql_cosine=_sql_cosine("a.embedding", "b.embedding"),
    ),
)
def dedup_semdedup_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.dedup import semantic_dedup_survivors_grouped
    from .llmdata.ivf import seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = seed_centroids(emb, n_centroids=8)
    return semantic_dedup_survivors_grouped(emb, centroids, threshold=0.3, dim=64)


def _sql_md5_16bits(md5e: str) -> str:
    """First four md5 hex nibbles as a 16-bit integer — the same SQL
    text classify.feature_id_col/hashed_weights build, so the Spark and
    DuckDB forms are literally identical."""
    from .llmdata.classify import _nibble

    return (
        f"({_nibble(md5e, 1)} * 4096 + {_nibble(md5e, 2)} * 256 "
        f"+ {_nibble(md5e, 3)} * 16 + {_nibble(md5e, 4)})"
    )


@register(
    "quality_classifier_scores",
    survey="LLM-quality (model-based filtering: hashed linear-classifier inference)",
    desc="hashed linear-classifier inference over every document — the "
    "fastText/FineWeb-Edu-shaped quality-filter pass: md5-hashed "
    "bag-of-words features into a 4096-dim space, an O(n_features) "
    "broadcast weight relation (deterministic md5 stand-in for the "
    "trained artifact), one map-side-combinable integer aggregate per "
    "doc; exact BIGINT logits so thresholding is engine-portable "
    "(sigmoid is monotone, exp() is not bit-portable)",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
),
featid AS (
  SELECT token,
         CAST(({feat16} % 4096) AS BIGINT) AS feature
  FROM (SELECT DISTINCT token FROM toks)
),
w AS (
  SELECT CAST(id AS BIGINT) AS feature,
         CAST(({w16} % 2049) - 1024 AS BIGINT) AS w_q
  FROM range(4096) t(id)
),
occ AS (SELECT doc_id, feature FROM toks JOIN featid USING (token))
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(w.w_q), 0) AS BIGINT) AS logit_q,
       CAST((COALESCE(SUM(w.w_q), 0) >= 0) AS INT) AS pred
FROM occ o LEFT JOIN w ON o.feature = w.feature
GROUP BY o.doc_id
""".format(
        toks=_SQL_TOKS,
        feat16=_sql_md5_16bits("md5(token)"),
        w16=_sql_md5_16bits("md5(concat('w1|', CAST(id AS STRING)))"),
    ),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = _classify.hashed_weights(spark, n_features=4096, scale=1024, seed="w1")
    return _classify.linear_classifier_scores(
        docs, weights, n_features=4096, bias_q=0
    )


@register(
    "media_simhash_fingerprints",
    survey="LLM-multimodal,LLM-dedup (byte-gram SimHash over opaque media payloads)",
    desc="SimHash fingerprints of opaque BINARY media payloads over "
    "sliding 4-byte grams (bytes -> lowercase hex -> byte-aligned "
    "windows), reusing the shared frequency-weighted SimHash core — "
    "the codec-free near-dup fingerprint for media columns; payloads "
    "shorter than one gram yield no row",
    oracle="""
WITH media AS (
  SELECT doc_id AS doc, lower(hex(encode(text))) AS hx FROM documents
),
grams AS (
  SELECT doc, substring(hx, i, 8) AS token
  FROM media, unnest(range(1, length(hx) - 6, 2)) AS u(i)
  WHERE length(hx) >= 8
),
tf AS (
  SELECT doc, token, COUNT(*) AS w, substring(md5(token), 1, 8) AS h
  FROM grams GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
)
SELECT doc,
       CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
FROM per_bit GROUP BY doc
""",
)
def media_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return _dedup.media_byte_fingerprints(media, bits=32, gram_bytes=4)


_IVFPQ_RECALL_PROBE_CTES = """probes1 AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {sq_cq} ASC, cent.c ASC
  LIMIT 1
),
qres1 AS (
  SELECT ct.c,
         list_transform(list_zip(q.qv, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qrv
  FROM cent ct JOIN probes1 p ON ct.c = p.c, q
),
scored1 AS (
  SELECT r.vec_id,
         CAST(SUM({qd})
              AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN res r ON r.vec_id = co.vec_id
  JOIN qres1 qr ON qr.c = r.ivf_cluster
  JOIN cb ON cb.j = co.j AND cb.c = co.c
  GROUP BY r.vec_id
),
top1 AS (
  SELECT CAST(1 AS BIGINT) AS n_probe, vec_id
  FROM scored1 ORDER BY adc ASC, vec_id ASC LIMIT 10
),
probes2 AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {sq_cq} ASC, cent.c ASC
  LIMIT 2
),
qres2 AS (
  SELECT ct.c,
         list_transform(list_zip(q.qv, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qrv
  FROM cent ct JOIN probes2 p ON ct.c = p.c, q
),
scored2 AS (
  SELECT r.vec_id,
         CAST(SUM({qd})
              AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN res r ON r.vec_id = co.vec_id
  JOIN qres2 qr ON qr.c = r.ivf_cluster
  JOIN cb ON cb.j = co.j AND cb.c = co.c
  GROUP BY r.vec_id
),
top2 AS (
  SELECT CAST(2 AS BIGINT) AS n_probe, vec_id
  FROM scored2 ORDER BY adc ASC, vec_id ASC LIMIT 10
),
probes4 AS (
  SELECT cent.c
  FROM cent, q
  ORDER BY {sq_cq} ASC, cent.c ASC
  LIMIT 4
),
qres4 AS (
  SELECT ct.c,
         list_transform(list_zip(q.qv, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qrv
  FROM cent ct JOIN probes4 p ON ct.c = p.c, q
),
scored4 AS (
  SELECT r.vec_id,
         CAST(SUM({qd})
              AS DOUBLE) / 16777216.0 AS adc
  FROM codes co
  JOIN res r ON r.vec_id = co.vec_id
  JOIN qres4 qr ON qr.c = r.ivf_cluster
  JOIN cb ON cb.j = co.j AND cb.c = co.c
  GROUP BY r.vec_id
),
top4 AS (
  SELECT CAST(4 AS BIGINT) AS n_probe, vec_id
  FROM scored4 ORDER BY adc ASC, vec_id ASC LIMIT 10
)""".format(
    sq_cq=_sql_sq_dist("cent.cv", "q.qv"),
    qd=_sql_q_dist("list_slice(qr.qrv, co.j*16+1, co.j*16+16)", "cb.cbv"),
)


@register(
    "ann_ivfpq_recall",
    driver=False,  # r14 window-budget retirement — see decision note
    survey="LLM-similarity (ANN quality instrumentation: recall@10 vs exact)",
    desc="the quality axis of the ANN family: recall@10 of the IVF-PQ "
    "search (same coarse routing + fixed-point ADC as ann_ivfpq_topk "
    "and the index-backed query path, which share bit-identical "
    "routing) against exact brute-force cosine, swept over n_probe in "
    "(1, 2, 4) — one (n_probe, hits, recall_at_10) row per setting; "
    "correctness rows elsewhere prove determinism, this one measures "
    "how much recall each probe buys. Cost note: instrumentation "
    "shape — one in-plan corpus encode (persisted across the three "
    "probe sweeps) plus brute-force ground truth; the production "
    "query path is the store-backed twin at ~0.4 s",
    oracle=f"""
WITH n AS (SELECT GREATEST(COUNT(*) // 8, 1) AS step FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS c, e.embedding AS cv
  FROM embeddings e, n
  WHERE e.vec_id % n.step = 0
  ORDER BY e.vec_id
  LIMIT 8
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
adists AS (
  SELECT e.vec_id, e.embedding, cent.c,
         {_sql_sq_dist('e.embedding', 'cent.cv')} AS d
  FROM embeddings e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, embedding, c AS ivf_cluster
  FROM (SELECT vec_id, embedding, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM adists)
  WHERE rn = 1
),
res AS (
  SELECT a.vec_id, a.ivf_cluster,
         list_transform(list_zip(a.embedding, ct.cv),
                        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rv
  FROM assigned a JOIN cent ct ON ct.c = a.ivf_cluster
),
n2 AS (SELECT GREATEST(COUNT(*) // 16, 1) AS step FROM embeddings),
seedv AS (
  SELECT ROW_NUMBER() OVER (ORDER BY r.vec_id) - 1 AS sc, r.rv
  FROM res r, n2
  WHERE r.vec_id % n2.step = 0
  ORDER BY r.vec_id
  LIMIT 16
),
js AS (SELECT unnest(range(0, 4)) AS j),
cb AS (SELECT sc AS c, j, rv[j*16+1 : j*16+16] AS cbv FROM seedv, js),
sub AS (
  SELECT r.vec_id, r.ivf_cluster, j.j, r.rv[j.j*16+1 : j.j*16+16] AS sv
  FROM res r, js j
),
cdists AS (
  SELECT s.vec_id, s.j, cb.c, {_sql_q_dist('s.sv', 'cb.cbv')} AS d
  FROM sub s JOIN cb ON s.j = cb.j
),
codes AS (
  SELECT vec_id, j, c
  FROM (SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM cdists)
  WHERE rn = 1
),
{_IVFPQ_RECALL_PROBE_CTES},
brute AS (
  SELECT e.vec_id
  FROM embeddings e, q
  ORDER BY {_sql_cosine('e.embedding', 'q.qv')} DESC, e.vec_id ASC
  LIMIT 10
),
ivf AS (
  SELECT * FROM top1 UNION ALL SELECT * FROM top2 UNION ALL SELECT * FROM top4
)
SELECT i.n_probe,
       CAST(COUNT(b.vec_id) AS BIGINT) AS hits,
       CAST(COUNT(b.vec_id) AS DOUBLE) / 10.0 AS recall_at_10
FROM ivf i LEFT JOIN brute b ON i.vec_id = b.vec_id
GROUP BY i.n_probe
""",
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist
    from .llmdata.ivf import seed_centroids
    from .llmdata.pq import (
        ivfpq_adc_topk_from_index,
        ivfpq_encode,
        seed_pq_codebooks_residual,
    )
    from .llmdata.similarity import cosine_topk
    from .llmdata.stats import corpus_stats

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE shared count for both seed derivations (guide §1.2)
    st = corpus_stats(emb, vec_col=None)
    cents = seed_centroids(emb, n_centroids=8, stats=st)
    qv = [float(v) for v in cents[0]]
    # residual seeds replayed driver-side (bit-identical — see
    # seed_pq_codebooks_residual)
    books = seed_pq_codebooks_residual(
        emb, cents, dim=64, m=4, ksub=16, stats=st
    )
    brute = cosine_topk(emb, qv, k=10).select("vec_id", F.lit(1).alias("__hit"))
    # encode ONCE, query per probe setting through the index-backed
    # path (bit-identical routing to ivfpq_adc_topk) — the deployed
    # shape: build cost paid once, each probe sweep a cluster-pruned
    # scan of the codes relation
    index = tracked_persist(ivfpq_encode(emb, cents, books))
    parts = [
        ivfpq_adc_topk_from_index(index, cents, books, qv, k=10, n_probe=npb).select(
            F.lit(npb).cast("bigint").alias("n_probe"), "vec_id"
        )
        for npb in (1, 2, 4)
    ]
    ivf = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        ivf.join(brute, "vec_id", "left")
        .groupBy("n_probe")
        .agg(F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("hits"))
        .withColumn(
            "recall_at_10", F.col("hits").cast("double") / F.lit(10.0)
        )
    )


@register(
    "corpus_embedding_curation_pipeline",
    survey="LLM-dedup,LLM-sampling (composed embedding pipeline over ONE shared stats pass)",
    desc="end-to-end embedding curation: ONE corpus-stats job feeds "
    "every adaptive operator (r7 verdict #3) — LSH-blocked near-dup "
    "pairs (adaptive plane count from the shared n_rows) -> min-id "
    "survivor rule (drop every id_b) -> cluster-balanced diversity "
    "sample of the survivors (same shared stats; bucket function "
    "derived from the FULL corpus so sampling strata are stable under "
    "dedup) — the composed shape pays one driver job, not one per "
    "operator (job-count gate in tests/test_plans.py)",
    oracle=f"""
WITH np AS ({{np_cte}}),
b AS (
  SELECT vec_id, embedding,
         {{bucket_e}} AS blk
  FROM embeddings, np
),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
  WHERE {{cos_ab}} >= 0.3
),
surv AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT id_b FROM pairs)
),
sb AS (
  SELECT s.vec_id,
         CAST({{bucket_s}} AS BIGINT) AS bucket
  FROM surv s, np
),
r AS (
  SELECT vec_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id ASC)
              AS BIGINT) AS bucket_rank
  FROM sb
)
SELECT vec_id, bucket, bucket_rank FROM r WHERE bucket_rank <= 5
""".format(
        np_cte=_sql_lsh_nplanes_cte("embeddings"),
        bucket_e=_sql_lsh_bucket_adaptive("embedding", dim=64, seed=7),
        cos_ab=_sql_cosine("a.embedding", "b2.embedding"),
        bucket_s=_sql_lsh_bucket_adaptive("s.embedding", dim=64, seed=7),
    ),
)
def corpus_embedding_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .llmdata.dedup import embedding_dup_pairs
    from .llmdata.sampling import cluster_balanced_sample
    from .llmdata.similarity import adaptive_n_planes
    from .llmdata.stats import corpus_stats

    emb = load_table(spark, sf_dir, "embeddings")
    st = corpus_stats(emb, vec_col="embedding")  # the ONE driver job
    pairs = embedding_dup_pairs(emb, threshold=0.3, stats=st)
    survivors = emb.join(
        pairs.select(F.col("id_b").alias("vec_id")).distinct(),
        "vec_id",
        "left_anti",
    )
    # the bucket function derives from the FULL corpus stats (n_planes
    # and dim), so the sampling strata don't shift when dedup shrinks
    # the relation — pass the pre-derived plane count explicitly
    return cluster_balanced_sample(
        survivors,
        per_bucket=5,
        n_planes=adaptive_n_planes(st.n_rows),
        seed=7,
        dim=st.dim,
    )


@register(
    "dedup_ngram_containment",
    survey="LLM-dedup (directional containment — inclusion/quotation detection)",
    desc="directional 3-gram containment pairs: |S_src ∩ S_dst| / "
    "|S_src| over distinct shingles, both directions emitted from one "
    "shared-shingle intersection — catches a short document quoted "
    "wholesale inside a long one (containment ≈ 1) that symmetric "
    "Jaccard scores near zero; Broder's resemblance-AND-containment "
    "pair completed",
    oracle="""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc, sh FROM (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM toks)
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
),
wsz AS (
  SELECT i.id_a, i.id_b, i.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc
  JOIN sizes sb ON i.id_b = sb.doc
),
dirs AS (
  SELECT id_a AS id_src, id_b AS id_dst, n_common,
         n_common / n_a AS containment
  FROM wsz
  UNION ALL
  SELECT id_b AS id_src, id_a AS id_dst, n_common,
         n_common / n_b AS containment
  FROM wsz
)
SELECT id_src, id_dst, n_common, containment
FROM dirs WHERE containment >= 0.8
""".format(toks=_SQL_TOKS),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.ngram_containment_pairs(docs, n=3, threshold=0.8)


@register(
    "dedup_minhash_accuracy",
    driver=False,  # r14 window-budget retirement — see decision note
    survey="LLM-dedup (estimation-quality instrumentation: est vs true Jaccard)",
    desc="the quality axis of the MinHash family (sibling of "
    "ann_ivfpq_recall): every LSH candidate pair's 16-hash estimated "
    "Jaccard joined against its TRUE 3-gram Jaccard (0.0 for band "
    "collisions with no shared shingle), with the absolute estimation "
    "error per pair — correctness rows elsewhere prove the estimator "
    "is deterministic, this one measures how good it is",
    oracle="""
WITH sig AS ({sig}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL
  SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL
  SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL
  SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
),
est AS (
  SELECT c.id_a, c.id_b, ({matches}) / 16.0 AS est_jaccard
  FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
  WHERE ({matches}) / 16.0 >= 0.5
),
toks AS (SELECT doc_id, {toks} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc, sh FROM (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM toks)
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
),
tru AS (
  SELECT i.id_a, i.id_b,
         i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS true_jaccard
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc
  JOIN sizes sb ON i.id_b = sb.doc
)
SELECT e.id_a, e.id_b, e.est_jaccard,
       COALESCE(t.true_jaccard, 0.0) AS true_jaccard,
       ABS(e.est_jaccard - COALESCE(t.true_jaccard, 0.0)) AS abs_err
FROM est e LEFT JOIN tru t ON e.id_a = t.id_a AND e.id_b = t.id_b
""".format(
        sig=_sql_minhash_sig(16),
        matches=_MINHASH_MATCHES_SQL,
        toks=_SQL_TOKS,
    ),
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    est = _dedup.minhash_lsh_pairs(
        docs, num_hashes=16, band_size=4, threshold=0.5
    ).select("id_a", "id_b", "est_jaccard")
    true_j = _dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).select(
        "id_a", "id_b", F.col("jaccard").alias("true_jaccard")
    )
    return (
        est.join(true_j, ["id_a", "id_b"], "left")
        .withColumn("true_jaccard", F.coalesce("true_jaccard", F.lit(0.0)))
        .withColumn(
            "abs_err", F.abs(F.col("est_jaccard") - F.col("true_jaccard"))
        )
        .select("id_a", "id_b", "est_jaccard", "true_jaccard", "abs_err")
    )


@register(
    "dedup_simhash_accuracy",
    driver=False,  # r14 window-budget retirement — see decision note
    survey="LLM-dedup (fingerprint-quality instrumentation: hamming vs true Jaccard)",
    desc="the quality axis of the SimHash family (third instrumentation "
    "row beside ann_ivfpq_recall and dedup_minhash_accuracy): every "
    "pigeonhole pair's Hamming distance joined against its TRUE 3-gram "
    "Jaccard (0.0 when the fingerprints collide without shared "
    "shingles) — the locality claim (small hamming => high overlap) as "
    "a measured relation instead of a pytest assertion",
    oracle="""
WITH tf AS (
  SELECT doc_id AS doc, token, COUNT(*) AS w, substr(md5(token), 1, 8) AS h
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents)
  GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
),
fp AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc
),
blocks AS (
  SELECT doc, simhash, bi, (simhash >> (bi * 8)) & 255 AS bv
  FROM fp, unnest(range(0, 4)) AS u(bi)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
                  a.simhash AS fp_a, b.simhash AS fp_b
  FROM blocks a JOIN blocks b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc < b.doc
),
sp AS (
  SELECT id_a, id_b,
         CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
  FROM cand
  WHERE bit_count(xor(fp_a, fp_b)) <= 3
),
toks AS (SELECT doc_id, {toks} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc, sh FROM (
    SELECT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
    FROM toks)
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
),
tru AS (
  SELECT i.id_a, i.id_b,
         i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS true_jaccard
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc
  JOIN sizes sb ON i.id_b = sb.doc
)
SELECT s.id_a, s.id_b, s.hamming,
       COALESCE(t.true_jaccard, 0.0) AS true_jaccard
FROM sp s LEFT JOIN tru t ON s.id_a = t.id_a AND s.id_b = t.id_b
""".format(toks=_SQL_TOKS),
)
def dedup_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = _dedup.simhash_fingerprints(docs, bits=32)
    sp = _dedup.simhash_near_pairs(fps, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )
    true_j = _dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).select(
        "id_a", "id_b", F.col("jaccard").alias("true_jaccard")
    )
    return (
        sp.join(true_j, ["id_a", "id_b"], "left")
        .withColumn("true_jaccard", F.coalesce("true_jaccard", F.lit(0.0)))
        .select("id_a", "id_b", "hamming", "true_jaccard")
    )


@register(
    "media_dedup_survivors",
    survey="LLM-multimodal,LLM-dedup (media near-dup pipeline composed end-to-end)",
    desc="the media near-dup pipeline COMPOSED: byte-gram SimHash "
    "fingerprints of opaque BINARY payloads -> pigeonhole Hamming "
    "pair detection (<= 3 bits) -> connected components -> keep the "
    "canonical (min-id) member per cluster -> surviving media with "
    "their fingerprints. Each stage is the already-verified operator "
    "(media_simhash_fingerprints, dedup_simhash_pairs' core, "
    "dedup_connected_clusters); this entry checks the composition — "
    "r8 verdict #6: media near-dup previously stopped at fingerprints",
    oracle="""
WITH RECURSIVE media AS (
  SELECT doc_id AS doc, lower(hex(encode(text))) AS hx FROM documents
),
grams AS (
  SELECT doc, substring(hx, i, 8) AS token
  FROM media, unnest(range(1, length(hx) - 6, 2)) AS u(i)
  WHERE length(hx) >= 8
),
tf AS (
  SELECT doc, token, COUNT(*) AS w, substring(md5(token), 1, 8) AS h
  FROM grams GROUP BY 1, 2
),
bits AS (
  SELECT doc, w, h, j,
         instr('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1 AS nibble,
         CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS pow2
  FROM tf, unnest(range(0, 32)) AS u(j)
),
per_bit AS (
  SELECT doc, j,
         SUM(CASE WHEN (nibble // pow2) % 2 = 1 THEN w ELSE -w END) AS s
  FROM bits GROUP BY 1, 2
),
fp AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc
),
blocks AS (
  SELECT doc, simhash, bi, (simhash >> (bi * 8)) & 255 AS bv
  FROM fp, unnest(range(0, 4)) AS u(bi)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
                  a.simhash AS fp_a, b.simhash AS fp_b
  FROM blocks a JOIN blocks b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc < b.doc
),
pairs AS (
  SELECT id_a, id_b FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
clusters AS (SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id AS media_id, f.simhash
FROM documents d LEFT JOIN fp f ON f.doc = d.doc_id
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c WHERE c.doc = d.doc_id AND c.doc <> c.cluster_id
)
""",
)
def media_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist
    from .llmdata.clusters import connected_clusters

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    # the fingerprint relation feeds three consumers (both sides of the
    # pigeonhole block join and the survivor join-back); persist so the
    # gram explode + SimHash agg runs once
    fp = tracked_persist(
        _dedup.media_byte_fingerprints(media, bits=32, gram_bytes=4)
    )
    dup_pairs = _dedup.simhash_near_pairs(fp, max_hamming=3, bits=32)
    clusters = connected_clusters(dup_pairs)
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    survivors = media.select("media_id").join(
        removed, media.media_id == removed.doc, "left_anti"
    )
    # payloads shorter than one gram have no fingerprint but trivially
    # survive (nothing to block on) — left join keeps them, NULL simhash
    return survivors.join(
        fp.select(F.col("doc").alias("media_id"), "simhash"), "media_id", "left"
    ).select("media_id", "simhash")


@register(
    "media_pixel_dedup_survivors",
    survey="LLM-multimodal,LLM-dedup (perceptual pixel-space media dedup composed end-to-end)",
    desc="perceptual (PIXEL-space) media dedup COMPOSED: decode + "
    "nearest-index resize to a fixed 8x4 grid (multimodal."
    "resize_images, bytegrid stub decoder — locality-preserving and "
    "oracle-exact) -> average-hash fingerprints computed JVM-side "
    "over the pixel arrays (multimodal.ahash_fingerprints) -> "
    "pigeonhole Hamming pairs (<= 3 bits) -> connected components -> "
    "keep the min-id member per cluster. The byte-SimHash twin "
    "(media_dedup_survivors) sees payload BYTES and misses "
    "re-encoded variants; this pipeline sees pixels after decode, "
    "which with a real codec catches them — the actual "
    "multimodal-dedup failure mode (r9 verdict #5). Synthetic "
    "per-image metadata (width 4+id%13, height 4+id%11) exercises "
    "metadata-driven decode at varying source sizes",
    oracle="""
WITH RECURSIVE meta AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS nb,
         4 + doc_id % 13 AS sw, 4 + doc_id % 11 AS sh
  FROM documents
),
cells AS (
  SELECT doc_id, k, hx, nb, sw * sh AS nsrc,
         ((((k // 4) * sh) // 8) * sw + (((k % 4) * sw) // 4)) AS idx
  FROM meta, unnest(range(0, 32)) AS u(k)
  WHERE nb > 0
),
gvals AS (
  SELECT doc_id, k,
         (instr('0123456789abcdef',
                substr(hx, 2 * ((idx * nb) // nsrc) + 1, 1)) - 1) * 16
         + (instr('0123456789abcdef',
                  substr(hx, 2 * ((idx * nb) // nsrc) + 2, 1)) - 1) AS g
  FROM cells
),
tot AS (SELECT doc_id, SUM(g) AS tot FROM gvals GROUP BY 1),
fp AS (
  SELECT g.doc_id AS doc,
         CAST(SUM(CASE WHEN g.g * 32 > t.tot
                       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS pixhash
  FROM gvals g JOIN tot t USING (doc_id) GROUP BY 1
),
pairs AS (
  SELECT a.doc AS u, b.doc AS v
  FROM fp a JOIN fp b ON a.doc < b.doc
  WHERE bit_count(xor(a.pixhash, b.pixhash)) <= 3
),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
clusters AS (SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id AS media_id, f.pixhash
FROM documents d LEFT JOIN fp f ON f.doc = d.doc_id
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c WHERE c.doc = d.doc_id AND c.doc <> c.cluster_id
)
""",
)
def media_pixel_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist
    from .llmdata import multimodal as _mm
    from .llmdata.clusters import connected_clusters

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
        # synthetic per-image metadata: real media tables carry decoder
        # dimensions; the id-derived sizes make every decode path
        # metadata-dependent (and the oracle replays them exactly)
        (F.lit(4) + F.col("doc_id") % 13).cast("long").alias("width"),
        (F.lit(4) + F.col("doc_id") % 11).cast("long").alias("height"),
        F.lit("image").alias("kind"),
    )
    nonempty = media.filter(F.length("content") > 0)
    resized = _mm.resize_images(nonempty, width=4, height=8, decoder="bytegrid")
    # the fingerprint relation feeds three consumers (both sides of the
    # pigeonhole block join and the survivor join-back), same shape as
    # the byte-SimHash twin — persist so decode + resize + hash run once
    fp = tracked_persist(
        _mm.ahash_fingerprints(resized).select(
            "doc", F.col("simhash").alias("pixhash")
        )
    )
    dup_pairs = _dedup.simhash_near_pairs(
        fp, max_hamming=3, bits=32, fp_col="pixhash"
    )
    clusters = connected_clusters(dup_pairs)
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    survivors = media.select("media_id").join(
        removed, media.media_id == removed.doc, "left_anti"
    )
    # empty payloads have no pixels to hash but trivially survive
    # (nothing to block on) — left join keeps them, NULL pixhash
    return survivors.join(
        fp.select(F.col("doc").alias("media_id"), "pixhash"), "media_id", "left"
    ).select("media_id", "pixhash")


@register(
    "multimodal_joint_dedup_survivors",
    survey="LLM-multimodal,LLM-dedup (cross-modal joint-survivor composition)",
    desc="CROSS-MODAL joint dedup: multimodal training rows carry "
    "(text, image) together, and per-modality survivor rules disagree "
    "on the classic multimodal near-dup (caption paraphrased, image "
    "identical — text dedup keeps it, media dedup drops it, and vice "
    "versa). This entry unions the text MinHash-LSH verified pairs "
    "with the pixel aHash pigeonhole pairs into ONE edge set, runs a "
    "single connected-components pass over the union, and keeps the "
    "min-id member per JOINT cluster — a row survives only if no "
    "modality links it (directly or transitively, even through edges "
    "that alternate modalities) to a smaller-id row. Every stage is an "
    "already-verified operator (dedup_minhash_lsh, "
    "media_pixel_dedup_survivors' fingerprint+pair stages, "
    "dedup_connected_clusters); the new surface is the composition "
    "(r10 verdict #3)",
    oracle=f"""
WITH RECURSIVE sig AS ({_sql_minhash_sig(16)}),
bands AS (
  SELECT doc, 0 AS band_idx, md5(concat_ws('|', m0, m1, m2, m3)) AS band_key FROM sig
  UNION ALL SELECT doc, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
  UNION ALL SELECT doc, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
  UNION ALL SELECT doc, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
),
tpairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sig a ON c.id_a = a.doc JOIN sig b ON c.id_b = b.doc
  WHERE ({_SQL_EST_MATCHES}) / 16.0 >= 0.5
),
meta AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS nb,
         4 + doc_id % 13 AS sw, 4 + doc_id % 11 AS sh
  FROM documents
),
cells AS (
  SELECT doc_id, k, hx, nb, sw * sh AS nsrc,
         ((((k // 4) * sh) // 8) * sw + (((k % 4) * sw) // 4)) AS idx
  FROM meta, unnest(range(0, 32)) AS u(k)
  WHERE nb > 0
),
gvals AS (
  SELECT doc_id, k,
         (instr('0123456789abcdef',
                substr(hx, 2 * ((idx * nb) // nsrc) + 1, 1)) - 1) * 16
         + (instr('0123456789abcdef',
                  substr(hx, 2 * ((idx * nb) // nsrc) + 2, 1)) - 1) AS g
  FROM cells
),
tot AS (SELECT doc_id, SUM(g) AS tot FROM gvals GROUP BY 1),
fp AS (
  SELECT g.doc_id AS doc,
         CAST(SUM(CASE WHEN g.g * 32 > t.tot
                       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS pixhash
  FROM gvals g JOIN tot t USING (doc_id) GROUP BY 1
),
ppairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b
  FROM fp a JOIN fp b ON a.doc < b.doc
  WHERE bit_count(xor(a.pixhash, b.pixhash)) <= 3
),
allp AS (SELECT id_a, id_b FROM tpairs UNION SELECT id_a, id_b FROM ppairs),
edges AS (SELECT id_a AS u, id_b AS v FROM allp UNION SELECT id_b, id_a FROM allp),
reach(v, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
clusters AS (SELECT v AS doc, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id, d.lang
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c WHERE c.doc = d.doc_id AND c.doc <> c.cluster_id
)
""",
)
def multimodal_joint_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # 8x4=32-bit aHash is the SQL-oracle configuration; bench_scaling's
    # multimodal_joint_dedup_adaptive runs the same composition at the
    # 8x8=64-bit corpus-scale width (shared body: joint_dedup_survivors)
    return joint_dedup_survivors(docs, width=4, height=8).select(
        "doc_id", "lang"
    )


def joint_dedup_survivors(docs: DataFrame, width: int, height: int) -> DataFrame:
    """The cross-modal joint-survivor composition, parameterized by the
    pixel side's grid (the scale knob — see
    multimodal.ahash_fingerprints; the fingerprint width is width·height
    by construction, so it is derived here rather than taken as a
    separate knob a caller could mismatch into silently-truncated
    pigeonhole blocks): text MinHash-LSH pairs ∪ pixel aHash pigeonhole
    pairs → one CC over the union → min-id survivor.
    Returns the surviving docs rows. Shared by the registry entry
    (32-bit oracle twin) and bench_scaling's 64-bit adaptive runner so
    the measured pipeline can never drift from the verified one."""
    bits = width * height
    from .caching import tracked_persist
    from .llmdata import multimodal as _mm

    # text modality: MinHash-LSH candidates verified at est-Jaccard >= 0.5
    text_pairs = _dedup.minhash_lsh_pairs(
        docs, num_hashes=16, band_size=4, threshold=0.5
    ).select("id_a", "id_b")
    # image modality: same synthetic (payload, metadata) stand-in as
    # media_pixel_dedup_survivors — decode+resize once through the Arrow
    # boundary, aHash JVM-side, persist so the pigeonhole self-join
    # reads the fingerprints from cache instead of re-decoding
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
        (F.lit(4) + F.col("doc_id") % 13).cast("long").alias("width"),
        (F.lit(4) + F.col("doc_id") % 11).cast("long").alias("height"),
        F.lit("image").alias("kind"),
    ).filter(F.length("content") > 0)
    fp = tracked_persist(
        _mm.ahash_fingerprints(
            _mm.resize_images(media, width=width, height=height, decoder="bytegrid")
        )
    )
    pixel_pairs = _dedup.simhash_near_pairs(fp, max_hamming=3, bits=bits).select(
        "id_a", "id_b"
    )
    # one edge set across modalities; distinct so a pair both modalities
    # find contributes one edge (CC is idempotent to duplicates but the
    # propagation joins shouldn't carry them). Survivor rule shared
    # with the incremental joint twin (dedup.py, r12).
    edges = text_pairs.unionByName(pixel_pairs).distinct()
    return _dedup.survivors_from_edges(docs, edges, "doc_id")


def _classifier_passed(normed: DataFrame) -> DataFrame:
    weights = _classify.hashed_weights(
        normed.sparkSession, n_features=4096, scale=1024, seed="w1"
    )
    clf = _classify.linear_classifier_scores(
        normed, weights, n_features=4096, bias_q=0, text_col="norm_text"
    )
    return clf.filter(F.col("logit_q") >= 0).select("doc_id", "logit_q")


def _lm_passed(normed: DataFrame) -> DataFrame:
    from .llmdata.unigram import unigram_doc_qtotals

    # the shared unigram_doc_qtotals core (distinct-word DP against the
    # frozen pieces artifact, integer per-doc sums), thresholded in
    # quantized mean-log space
    lm = unigram_doc_qtotals(normed, _UNIGRAM_GATE_PIECES, text_col="norm_text")
    return lm.filter(
        F.col("q_total") >= F.lit(_UNIGRAM_GATE_MIN_QLOGP) * F.col("n_words")
    ).select("doc_id", "q_total", "n_words")


# The hashed linear classifier: keep logit_q >= 0. Its oracle's occ
# token stream is also the LM gate's input.
_CLASSIFIER_GATE = _PrepGate(
    frame=_classifier_passed,
    ctes="""occ AS (SELECT doc_id, unnest(toks) AS token FROM tk),
featid AS (
  SELECT token, CAST(({feat16} % 4096) AS BIGINT) AS feature
  FROM (SELECT DISTINCT token FROM occ)
),
wts AS (
  SELECT CAST(id AS BIGINT) AS feature,
         CAST(({w16} % 2049) - 1024 AS BIGINT) AS w_q
  FROM range(4096) t(id)
),
clf AS (
  SELECT o.doc_id,
         CAST(COALESCE(SUM(w.w_q), 0) AS BIGINT) AS logit_q
  FROM (SELECT occ.doc_id, f.feature FROM occ JOIN featid f USING (token)) o
  LEFT JOIN wts w ON o.feature = w.feature
  GROUP BY o.doc_id
),
mkept AS (SELECT doc_id, logit_q FROM clf WHERE logit_q >= 0)""".format(
        feat16=_sql_md5_16bits("md5(token)"),
        w16=_sql_md5_16bits("md5(concat('w1|', CAST(id AS STRING)))"),
    ),
    rel="mkept",
    alias="mk",
    cols=("logit_q",),
    before_gopher=True,
)

# The CCNet unigram-LM gate: quantized mean word log-prob >= -14. The
# oracle joins the quality_unigram_ppl_gate constant (word, q_logp)
# relation against the classifier's occ token stream and sums integers
# per document.
_LM_GATE = _PrepGate(
    frame=_lm_passed,
    ctes="""lmtab(word, q_logp) AS (VALUES {vals}),
lmk AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(l.q_logp) AS BIGINT) AS q_total
  FROM occ JOIN lmtab l ON occ.token = l.word
  GROUP BY doc_id
  HAVING CAST(SUM(l.q_logp) AS BIGINT) >= {qmin} * CAST(COUNT(*) AS BIGINT)
)""".format(
        vals=", ".join(f"('{w}', {q})" for w, q in _UNIGRAM_GATE_QLOGP),
        qmin=_UNIGRAM_GATE_MIN_QLOGP,
    ),
    rel="lmk",
    alias="lk",
    cols=("q_total", "n_words"),
    before_gopher=False,
)


@register(
    "corpus_prep_v4_pipeline",
    survey="LLM end-to-end (model-based filter composed into the prep pipeline)",
    desc="training-corpus prep v4 — v3 with the MODEL-BASED quality "
    "filter inserted between normalization and the Gopher gate (the "
    "FineWeb/DCLM shape the classifier module was built for, r8 "
    "verdict #7): canonical normalization -> hashed linear-classifier "
    "inference on the normalized text, threshold on the exact BIGINT "
    "logit (keep logit_q >= 0) -> Gopher composite gate -> exact "
    "dedup (min-id survivor) -> quality-ranked token-budget selection "
    "(best half of surviving tokens); survivors carry their logit so "
    "the output exposes the model scores the selection ran behind",
    oracle=f"""
{_sql_prep_head("n_chars", (_CLASSIFIER_GATE,))}
{_sql_prep_budget((_CLASSIFIER_GATE,))}
SELECT c.doc_id, c.score, c.n_tokens, c.cum_before, c.logit_q
FROM c, b WHERE c.cum_before < b.budget
""",
)
def corpus_prep_v4_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _corpus_prep_survivors(spark, sf_dir, "n_chars", (_CLASSIFIER_GATE,))
    return (
        _prep_budget(survivors)
        .join(survivors.select("doc_id", "logit_q"), "doc_id")
        .select("doc_id", "score", "n_tokens", "cum_before", "logit_q")
    )


@register(
    "corpus_prep_v5_pipeline",
    survey="LLM end-to-end (v5: learned-tokenizer counts as the budget "
    "and packing currency)",
    desc="training-corpus prep v5 — the tokenize -> budget-select -> "
    "pack shape a real pretraining pipeline runs (r11 verdict stretch "
    "#7): BPE-apply with the pinned learned vocabulary produces each "
    "document's LEARNED token count, quality_budget_select budgets the "
    "best fifth of *BPE* tokens by n_chars rank (n_tokens_col — the "
    "heuristic whitespace count never enters), and assign_packs bins "
    "the selected docs into 2048-BPE-token training packs across 8 "
    "shards. The oracle composes the tokenizer_bpe_apply replace-chain "
    "CTE (same merge-list constant) with the corpus_token_budget "
    "window and the packing arithmetic",
    oracle=f"""
WITH ws AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
occ AS (SELECT doc_id, unnest(w) AS word FROM ws),
encw AS (
  SELECT word,
         CAST(len(string_split(substr(e, 2, length(e) - 2), '^|')) AS BIGINT) AS n
  FROM (SELECT word, {_sql_bpe_enc_expr(_BPE_DEMO_MERGES)} AS e
        FROM (SELECT DISTINCT word FROM occ))
),
cnt AS (
  SELECT o.doc_id, CAST(SUM(e.n) AS BIGINT) AS n_tokens
  FROM occ o JOIN encw e USING (word) GROUP BY 1
),
t AS (
  SELECT d.doc_id, d.n_chars AS score,
         CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN cnt c USING (doc_id)
),
{_sql_budget_window(5, "cum")},
sel AS (SELECT cum.* FROM cum, b WHERE cum.cum_before < b.budget),
p AS (
  SELECT doc_id, score, n_tokens, cum_before,
         CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY doc_id % 8 ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS pcum
  FROM sel
)
SELECT doc_id, score, n_tokens, cum_before, shard,
       CAST(pcum // 2048 AS BIGINT) AS pack_id,
       CAST(pcum % 2048 AS BIGINT) AS pack_offset
FROM p
""",
)
def corpus_prep_v5_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .caching import tracked_persist
    from .llmdata.tokenizer import bpe_apply

    docs = load_table(spark, sf_dir, "documents")
    # learned-token counts: one distinct-word fold + join-back; the
    # token arrays themselves never materialize here (n_tokens only)
    tok = bpe_apply(docs, _BPE_DEMO_MERGES).select("doc_id", "n_tokens")
    scored = docs.select("doc_id", "n_chars").join(tok, "doc_id")
    # selected feeds both the pack assignment and the score join-back
    selected = tracked_persist(
        _sampling.quality_budget_select(
            scored, score_col="n_chars", budget_den=5, n_tokens_col="n_tokens"
        )
    )
    packed = _packing.assign_packs(
        selected, budget=2048, n_shards=8, n_tokens_col="n_tokens"
    )
    return packed.join(
        selected.select("doc_id", "score", "cum_before"), "doc_id"
    ).select(
        "doc_id", "score", "n_tokens", "cum_before", "shard", "pack_id", "pack_offset"
    )


@register(
    "corpus_prep_v6_pipeline",
    survey="LLM end-to-end (CCNet LM gate composed into the model-filtered prep pipeline)",
    desc="training-corpus prep v6 — v4 with the unigram-LM perplexity "
    "gate as a THIRD per-row predicate (the CCNet composition: keep a "
    "doc iff classifier logit_q >= 0 AND Gopher composite gate AND "
    "quantized mean word log-prob >= -14, all evaluated independently "
    "over the normalized text and intersected in ONE join round — the "
    "v4 plan discipline) -> exact dedup (min-id survivor) -> quality-"
    "ranked token-budget selection; survivors carry logit_q and "
    "mean_logp (one final IEEE division — the LM scores ride the same "
    "frozen quality_unigram_ppl_gate pieces artifact and fixture-"
    "derived oracle constants, drift-gated by "
    "test_gate_entry_constants_match_dp)",
    oracle=f"""
{_sql_prep_head("n_chars", (_CLASSIFIER_GATE, _LM_GATE))}
{_sql_prep_budget((_CLASSIFIER_GATE, _LM_GATE))}
SELECT c.doc_id, c.score, c.n_tokens, c.cum_before, c.logit_q,
       CAST(c.q_total AS DOUBLE) / CAST(c.n_words * 1048576 AS DOUBLE)
         AS mean_logp
FROM c, b WHERE c.cum_before < b.budget
""",
)
def corpus_prep_v6_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _corpus_prep_survivors(
        spark, sf_dir, "n_chars", (_CLASSIFIER_GATE, _LM_GATE)
    )
    # mean_logp is one final IEEE division (no engine-variant exp, the
    # bigram_fluency idiom)
    return _prep_budget(survivors).join(
        survivors.select("doc_id", "logit_q", "q_total", "n_words"), "doc_id"
    ).select(
        "doc_id",
        "score",
        "n_tokens",
        "cum_before",
        "logit_q",
        (
            F.col("q_total").cast("double")
            / (F.col("n_words") * F.lit(1048576)).cast("double")
        ).alias("mean_logp"),
    )



def _lsh_recall_topk_cte(p: int) -> str:
    """One fixed-plane-count (top-10 in the query's LSH bucket) CTE
    pair for the recall sweep — planes inlined via _sql_lsh_bucket, so
    the bucket function is byte-identical to similarity.lsh_bucket_col
    with the same (dim, p, seed)."""
    bucket_e = _sql_lsh_bucket("e.embedding", dim=64, n_planes=p)
    bucket_q = _sql_lsh_bucket("q.qv", dim=64, n_planes=p)
    return f"""cand{p} AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e, q
  WHERE {bucket_e} = {bucket_q}
),
top{p} AS (
  SELECT CAST({p} AS BIGINT) AS n_planes, vec_id
  FROM (
    SELECT c.vec_id
    FROM cand{p} c, q
    ORDER BY {_sql_cosine('c.embedding', 'q.qv')} DESC, c.vec_id ASC
    LIMIT 10
  )
)"""


@register(
    "ann_lsh_recall",
    driver=False,  # r14 window-budget retirement — see decision note
    survey="LLM-similarity (ANN quality instrumentation: recall@10 vs exact)",
    desc="the quality axis of the hyperplane-LSH ANN path (r8 stretch "
    "#8, same harness as ann_ivfpq_recall): recall@10 of lsh_ann_topk "
    "against exact brute-force cosine, swept over the plane count "
    "p in (2, 4, 8) — one (n_planes, hits, recall_at_10) row per "
    "setting; correctness rows elsewhere prove the bucket function is "
    "deterministic, this one measures the recall each halving of the "
    "candidate set costs. Instrumentation shape: brute-force ground "
    "truth is part of the query by design",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
{_lsh_recall_topk_cte(2)},
{_lsh_recall_topk_cte(4)},
{_lsh_recall_topk_cte(8)},
brute AS (
  SELECT e.vec_id
  FROM embeddings e, q
  ORDER BY {_sql_cosine('e.embedding', 'q.qv')} DESC, e.vec_id ASC
  LIMIT 10
),
lsh AS (
  SELECT * FROM top2 UNION ALL SELECT * FROM top4 UNION ALL SELECT * FROM top8
)
SELECT l.n_planes,
       CAST(COUNT(b.vec_id) AS BIGINT) AS hits,
       CAST(COUNT(b.vec_id) AS DOUBLE) / 10.0 AS recall_at_10
FROM lsh l LEFT JOIN brute b ON l.vec_id = b.vec_id
GROUP BY l.n_planes
""",
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmdata.similarity import cosine_topk, lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    brute = cosine_topk(emb, qv, k=10).select("vec_id", F.lit(1).alias("__hit"))
    parts = [
        lsh_ann_topk(emb, qv, k=10, n_planes=p).select(
            F.lit(p).cast("bigint").alias("n_planes"), "vec_id"
        )
        for p in (2, 4, 8)
    ]
    lsh = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        lsh.join(brute, "vec_id", "left")
        .groupBy("n_planes")
        .agg(F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("hits"))
        .withColumn("recall_at_10", F.col("hits").cast("double") / F.lit(10.0))
    )


# ---------------------------------------------------------------------------
# Registry ordering: the verification driver hash-checks the FIRST 50
# entries of the registry per round. Entries never yet driver-verified are
# placed first so each round's 50-slot window lands on them, maximising
# cumulative hard-signal coverage. Key-based consumers are unaffected
# (dict lookup); only iteration order changes.
#
# The verified set is derived at import time from the CORRECTNESS_r*.json
# files the driver itself writes next to this package (no hand-synced list
# to maintain). Any window slots left after the never-verified entries are
# filled with a ROTATING subset of previously-verified entries (offset
# advances with the round number), so a regression in an already-verified
# query resurfaces to the driver within a few rounds rather than being
# permanently rotated out. `_DRIVER_VERIFIED_FALLBACK` (the r1-r4 keys) is
# used only if the JSON files are unreadable.
#
# Window-budget rule: steady-state staleness is ceil(N/50) rounds for
# N driver-visible entries. When N reaches ~180, or any cohort goes
# more than 4 rounds without a driver check, retire entries to
# pytest-only with driver=False: they stay in QUERIES, and
# tests/test_oracle_parity.py keeps hash-checking each against its
# oracle. Retirement order:
#   1. entries whose oracle restates another entry's CTE stack (done:
#      dedup_minhash_accuracy, dedup_simhash_accuracy, ann_ivfpq_recall,
#      ann_lsh_recall, corpus_prep_pipeline, corpus_prep_v2_pipeline);
#   2. embedding_quantize_int8, an error-audit row whose operator
#      ann_pq_topk covers;
#   3. dedup_embedding_multiprobe, the recall-lever twin of
#      dedup_embedding_lsh_blocked.
# Restated-CTE redundancy goes first, instrumentation second and
# recall-lever twins last, so each step keeps at least one driver-green
# row per operator family.
# ---------------------------------------------------------------------------

_DRIVER_VERIFIED_FALLBACK = frozenset({
    "a1_supplier_rollup", "a2_distinct_active", "a4_most_active",
    "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk", "asof_last_purchase",
    "cube_flag_status", "dedup_connected_clusters", "dedup_embedding_cosine",
    "dedup_embedding_lsh_blocked", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_pairs",
    "doc_fingerprints", "j1_enrich_lines", "j2_flow_fanout",
    "j3_zero_activity_dims", "j4_region_rollup", "j5_trace_2hop",
    "multimodal_features", "o1_top_balance", "o2_page_events",
    "p10_regex_filter", "p1_stg_projection", "p7_avg_nonzero",
    "p8_time_range_scan", "pack_sequences", "pivot_status_qty",
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_supplier_revenue",
    "range_join_error_purchase", "sample_hash_split", "sessionize_events",
    "sql_api_priority_counts", "t1_unique_violations", "t2_not_null_violations",
    "t3_composite_unique_violations", "text_lang_id", "text_quality",
    "text_token_stats", "topk_per_group", "tumbling_hourly_events",
    "u1_union_changes", "unpivot_totals", "w1_running_balance",
    "w2_trace_sequence",
    # r4
    "centroid_by_bucket", "cohort_retention", "corr_value_by_type",
    "dedup_bow_cosine", "dedup_corpus_survivors", "funnel_view_click_purchase",
    "graph_triangle_count", "grouping_sets_api", "histogram_value",
    "islands_activity_streaks", "j6_exists_priority", "j7_anti_inactive_customers",
    "json_extract_props", "latest_event_per_user", "mad_by_type",
    "markov_event_transitions", "ntile_value_quartiles", "pii_scrub_props",
    "q10_returned_revenue", "q11_important_parts", "q12_priority_by_status",
    "q13_order_count_distribution", "q14_promo_revenue_share", "q15_top_supplier",
    "q17_small_quantity_revenue", "q18_large_orders", "q19_disjunctive_predicates",
    "q22_wealthy_inactive", "q2_min_balance_supplier", "q6_selective_revenue",
    "q7_nation_volume", "quantiles_by_type", "rolling_active_users",
    "rollup_priority_status", "sample_reservoir_lang", "sample_stratified_lang",
    "set_viewers_not_buyers", "sketch_kmv_distinct", "sketch_kmv_union",
    "spine_fill_hourly", "t5_accepted_values_violations", "t6_referential_violations",
    "text_contamination", "text_inverted_index", "text_repetition",
    "text_tfidf_topk", "w3_value_deltas", "w4_moving_avg_daily",
    "w5_rank_family", "winsorize_values",
})

_DRIVER_WINDOW = 50  # entries the driver hash-checks per round


def _load_driver_verified(root=None) -> dict[str, int]:
    """Return {query key: round it was last driver-verified green}.

    Reads the CORRECTNESS_r{N}.json files the verification driver writes
    at the repo root (two levels above this module). For each key the
    MOST RECENT recorded row decides: verified iff all three checks
    passed then — a later red row (or a weaker rows-only run) puts the
    entry back in the unverified pool for re-verification. Falls back to
    the static r1-r4 snapshot (all stamped round 4) if nothing is
    readable.
    """
    import json
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parents[1]
    status: dict[str, bool] = {}
    last_round: dict[str, int] = {}
    try:
        # Sort by the PARSED round number, not lexicographically —
        # "r10" < "r2" as strings, so a string sort would let round-2
        # status overwrite round-10 from round 10 on (a query that
        # regressed red in r10 would stay marked verified-green from r9
        # and the oldest-first rotation keys would be wrong).
        files = sorted(
            root.glob("CORRECTNESS_r*.json"),
            key=lambda f: int("".join(ch for ch in f.stem if ch.isdigit()) or 0),
        )
    except OSError:
        files = []
    for f in files:  # round-ascending, so later rounds overwrite earlier
        try:
            rows = json.loads(f.read_text())
            rnd = int("".join(ch for ch in f.stem if ch.isdigit()) or 0)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            ok = isinstance(row, dict) and all(
                row.get(c) for c in ("rows_match", "schema_match", "hash_match")
            )
            status[key] = ok
            if ok:
                last_round[key] = rnd
    verified = {k: last_round[k] for k, ok in status.items() if ok}
    if not verified:
        return {k: 4 for k in _DRIVER_VERIFIED_FALLBACK}
    return verified


def _rotate_registry() -> None:
    """Order the registry for the driver's first-50 verification window.

    Never-driver-verified entries go first (hard-signal coverage for new
    work). Remaining window slots are filled by previously-verified
    entries ordered OLDEST-FIRST by the round they were last verified
    (tie-broken by registry order), so no entry's last driver check ages
    more than ~ceil(N/50) rounds and a regression in an old entry
    resurfaces to the driver as soon as its cohort rotates back in.
    """
    verified = _load_driver_verified()
    unverified = [k for k in QUERIES if k not in verified]
    registry_pos = {k: i for i, k in enumerate(QUERIES)}
    stale_first = sorted(
        (k for k in QUERIES if k in verified),
        key=lambda k: (verified[k], registry_pos[k]),
    )
    order = unverified + stale_first
    snapshot = dict(QUERIES)
    QUERIES.clear()
    QUERIES.update({k: snapshot[k] for k in order})


_rotate_registry()
