"""End-to-end parity of the blockchain transform DAG + dashboard queries
against a DuckDB oracle running SQL equivalent to the reference's dbt
models (transaction_tracing/models/) on the same fixture parquet."""

import duckdb
import pytest

from blockchair_etl_spark.query import analytics
from blockchair_etl_spark.quality.checks import run_checks
from blockchair_etl_spark.testing import compare_frames
from blockchair_etl_spark.transform.intermediate import (
    int_address_balances_with_history,
    int_transaction_flows,
)
from blockchair_etl_spark.transform.marts import (
    dim_addresses,
    dim_blocks,
    fct_transaction_traces,
)
from blockchair_etl_spark.transform.staging import (
    stg_addresses,
    stg_blocks,
    stg_inputs,
    stg_outputs,
    stg_transactions,
)

from blockchain_fixtures import generate, write_parquet

FLOAT_TOL = 1e-6

# SQL mirrors of the dbt models, for the DuckDB oracle.
SQL_STAGED = """
CREATE VIEW stg_blocks AS
SELECT id AS block_id, hash AS block_hash, time AS block_time,
       median_time AS median_block_time, size AS size_bytes,
       stripped_size AS stripped_size_bytes, weight AS weight_wu,
       version, version_hex, version_bits, merkle_root, nonce, bits,
       difficulty, chainwork, coinbase_data_hex, transaction_count,
       witness_count, input_count, output_count,
       input_total AS input_total_sats, input_total/100000000.0 AS input_total_btc,
       input_total_usd, output_total AS output_total_sats,
       output_total/100000000.0 AS output_total_btc, output_total_usd,
       fee_total AS fee_total_sats, fee_total/100000000.0 AS fee_total_btc,
       fee_total_usd, fee_per_kb AS fee_per_kb_sats, fee_per_kb_usd,
       fee_per_kwu AS fee_per_kwu_sats, fee_per_kwu_usd,
       cdd_total AS cdd_total_days, generation AS generation_sats,
       generation/100000000.0 AS generation_btc, generation_usd,
       reward AS reward_sats, reward/100000000.0 AS reward_btc, reward_usd,
       guessed_miner
FROM blocks_raw WHERE id IS NOT NULL;

CREATE VIEW stg_transactions AS
SELECT block_id, hash AS transaction_hash, time AS tx_time,
       size AS size_bytes, weight AS weight_wu, version, lock_time,
       is_coinbase, has_witness, input_count, output_count,
       input_total AS input_total_sats, input_total/100000000.0 AS input_total_btc,
       input_total_usd, output_total AS output_total_sats,
       output_total/100000000.0 AS output_total_btc, output_total_usd,
       fee AS fee_sats, fee/100000000.0 AS fee_btc, fee_usd,
       fee_per_kb AS fee_per_kb_sats, fee_per_kb_usd,
       fee_per_kwu AS fee_per_kwu_sats, fee_per_kwu_usd,
       cdd_total AS cdd_total_days
FROM transactions_raw WHERE hash IS NOT NULL;

CREATE VIEW stg_inputs AS
SELECT block_id, transaction_hash, index, time, value AS value_sats,
       value/100000000.0 AS value_btc, value_usd, recipient, type,
       script_hex, is_from_coinbase, is_spendable, spending_block_id,
       spending_transaction_hash, spending_index, spending_time,
       spending_value_usd, spending_sequence, spending_signature_hex,
       spending_witness, lifespan AS lifespan_secs,
       lifespan/86400.0 AS lifespan_days, cdd AS cdd_days,
       (lifespan/86400.0) * (value/100000000.0) AS calculated_cdd_days
FROM inputs_raw WHERE transaction_hash IS NOT NULL;

CREATE VIEW stg_outputs AS
SELECT block_id, transaction_hash, index, time, value AS value_sats,
       value/100000000.0 AS value_btc, value_usd, recipient, type,
       script_hex, is_from_coinbase, is_spendable
FROM outputs_raw WHERE transaction_hash IS NOT NULL;

CREATE VIEW stg_addresses AS
SELECT address, balance AS balance_sats, balance/100000000.0 AS balance_btc
FROM address_raw WHERE address IS NOT NULL;

CREATE VIEW int_transaction_flows AS
SELECT tx.transaction_hash, tx.block_id, b.block_time AS tx_time,
       i.recipient AS input_address, o.recipient AS output_address,
       i.value_sats AS input_value_sats, i.value_btc AS input_value_btc,
       o.value_sats AS output_value_sats, o.value_btc AS output_value_btc,
       i.value_usd AS input_value_usd, o.value_usd AS output_value_usd,
       tx.fee_sats, tx.fee_btc, tx.fee_usd,
       i.cdd_days AS input_cdd_days, b.cdd_total_days AS block_cdd_days,
       i.lifespan_days,
       CASE WHEN i.is_from_coinbase = 1 THEN 'coinbase' ELSE 'standard' END AS tx_type,
       b.reward_btc AS block_reward_btc
FROM stg_transactions tx
LEFT JOIN (SELECT block_id, block_time, cdd_total_days, reward_btc FROM stg_blocks) b
       ON tx.block_id = b.block_id
LEFT JOIN stg_inputs i
       ON tx.transaction_hash = i.transaction_hash AND tx.block_id = i.block_id
LEFT JOIN stg_outputs o
       ON tx.transaction_hash = o.transaction_hash AND tx.block_id = o.block_id;

CREATE VIEW int_address_balances_with_history AS
WITH changes AS (
  SELECT recipient AS address, time, -value_sats AS value_change_sats,
         -value_btc AS value_change_btc, -value_usd AS value_change_usd,
         transaction_hash
  FROM stg_inputs
  UNION ALL
  SELECT recipient AS address, time, value_sats, value_btc, value_usd,
         transaction_hash
  FROM stg_outputs
)
SELECT a.address, c.time, c.transaction_hash, c.value_change_sats,
       c.value_change_btc, c.value_change_usd,
       SUM(c.value_change_sats) OVER (PARTITION BY a.address ORDER BY c.time) AS running_balance_sats,
       SUM(c.value_change_btc) OVER (PARTITION BY a.address ORDER BY c.time) AS running_balance_btc,
       SUM(c.value_change_usd) OVER (PARTITION BY a.address ORDER BY c.time) AS running_balance_usd,
       a.balance_sats AS current_balance_sats,
       a.balance_btc AS current_balance_btc
FROM stg_addresses a LEFT JOIN changes c ON a.address = c.address;

CREATE VIEW fct_transaction_traces AS
SELECT input_address AS source_address, output_address AS destination_address,
       transaction_hash, block_id, tx_time,
       input_value_sats AS transferred_value_sats,
       input_value_btc AS transferred_value_btc,
       input_value_usd AS transferred_value_usd,
       fee_sats, fee_btc, fee_usd, tx_type, input_cdd_days,
       block_cdd_days, block_reward_btc
FROM int_transaction_flows;

CREATE VIEW dim_addresses AS
SELECT address, current_balance_sats, current_balance_btc,
       SUM(value_change_sats) AS lifetime_value_change_sats,
       SUM(value_change_btc) AS lifetime_value_change_btc,
       COUNT(DISTINCT transaction_hash) AS tx_count
FROM int_address_balances_with_history
GROUP BY 1, 2, 3;

CREATE VIEW dim_blocks AS
SELECT block_id, block_hash, block_time, difficulty, transaction_count,
       fee_total_sats, fee_total_btc, fee_total_usd, reward_sats,
       reward_btc, reward_usd, cdd_total_days, guessed_miner
FROM stg_blocks;
"""


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("btc_fixtures")
    write_parquet(generate(), str(d))
    return str(d)


@pytest.fixture(scope="module")
def raw(spark, fixture_dir):
    return {
        name: spark.read.parquet(f"{fixture_dir}/{name}.parquet")
        for name in ["blocks", "transactions", "inputs", "outputs", "addresses"]
    }


@pytest.fixture(scope="module")
def dag(raw):
    sb = stg_blocks(raw["blocks"])
    st = stg_transactions(raw["transactions"])
    si = stg_inputs(raw["inputs"])
    so = stg_outputs(raw["outputs"])
    sa = stg_addresses(raw["addresses"])
    flows = int_transaction_flows(sb, st, si, so)
    balances = int_address_balances_with_history(sa, si, so)
    return {
        "stg_blocks": sb,
        "stg_transactions": st,
        "stg_inputs": si,
        "stg_outputs": so,
        "stg_addresses": sa,
        "int_transaction_flows": flows,
        "int_address_balances_with_history": balances,
        "fct_transaction_traces": fct_transaction_traces(flows),
        "dim_addresses": dim_addresses(balances),
        "dim_blocks": dim_blocks(sb),
    }


@pytest.fixture(scope="module")
def ora(fixture_dir):
    con = duckdb.connect()
    for name, raw_name in [
        ("blocks_raw", "blocks"),
        ("transactions_raw", "transactions"),
        ("inputs_raw", "inputs"),
        ("outputs_raw", "outputs"),
        ("address_raw", "addresses"),
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{fixture_dir}/{raw_name}.parquet')"
        )
    for stmt in SQL_STAGED.split(";"):
        if stmt.strip():
            con.execute(stmt)
    yield con
    con.close()


@pytest.mark.parametrize(
    "model",
    [
        "stg_blocks",
        "stg_transactions",
        "stg_inputs",
        "stg_outputs",
        "stg_addresses",
        "int_transaction_flows",
        "int_address_balances_with_history",
        "dim_addresses",
        "dim_blocks",
    ],
)
def test_model_parity(dag, ora, model):
    got = dag[model].toPandas()
    want = ora.execute(f"SELECT * FROM {model}").fetchdf()
    r = compare_frames(model, got, want, float_tol=FLOAT_TOL)
    assert r.ok, f"{model}: {r.mismatches[:5]}"


def test_fct_parity_modulo_sequence(dag, ora):
    # trace_sequence ties are assigned arbitrarily (ORDER BY tx_time is
    # constant within a tx) — compare the deterministic columns, then
    # check sequences are exactly 1..n per transaction.
    got = dag["fct_transaction_traces"].drop("trace_sequence").toPandas()
    want = ora.execute("SELECT * FROM fct_transaction_traces").fetchdf()
    r = compare_frames("fct", got, want, float_tol=FLOAT_TOL)
    assert r.ok, r.mismatches[:5]

    seq = dag["fct_transaction_traces"].select("transaction_hash", "trace_sequence").toPandas()
    per_tx = seq.groupby("transaction_hash")["trace_sequence"].agg(["min", "max", "count", "nunique"])
    assert (per_tx["min"] == 1).all()
    assert (per_tx["max"] == per_tx["count"]).all()
    assert (per_tx["nunique"] == per_tx["count"]).all()


def test_flow_fanout_invariant(dag, raw):
    # |flows per tx| = max(|inputs|,1) × max(|outputs|,1)  (J2 fan-out)
    flows = dag["int_transaction_flows"].groupBy("transaction_hash").count().toPandas()
    tx = raw["transactions"].select("hash", "input_count", "output_count").toPandas()
    merged = flows.merge(tx, left_on="transaction_hash", right_on="hash")
    expect = merged["input_count"].clip(lower=1) * merged["output_count"].clip(lower=1)
    assert (merged["count"] == expect).all()


def test_quality_suite(dag):
    results = run_checks(dag)
    assert len(results) == 11
    for r in results:
        assert r.passed, f"{r.name}: {r.violations} violations"


def test_quality_suite_counts_planted_violations(dag):
    # One duplicate row and one null-key row planted in every stg table:
    # the one-action suite must report what each check counts on its own.
    from pyspark.sql import functions as F

    from blockchair_etl_spark.quality.checks import (
        REFERENCE_SUITE,
        not_null_violations,
        unique_combination_violations,
        unique_violations,
    )

    keys = {t: c for t, k, c in REFERENCE_SUITE if k == "not_null"}
    planted = {}
    for table, key in keys.items():
        df = dag[table]
        first = df.limit(1)
        null_key = first.withColumn(key, F.lit(None).cast(df.schema[key].dataType))
        planted[table] = df.unionByName(first).unionByName(null_key)
    alone = {
        "unique": unique_violations,
        "not_null": not_null_violations,
        "combo": lambda df, cols: unique_combination_violations(df, list(cols)),
    }
    expected = [alone[k](planted[t], c).count() for t, k, c in REFERENCE_SUITE]
    results = run_checks(planted)
    assert [r.name for r in results] == [f"{t}.{k}.{c}" for t, k, c in REFERENCE_SUITE]
    assert [r.violations for r in results] == expected
    assert all(n > 0 for n in expected), expected


def test_cdd_reconciliation(dag):
    # FIXTURES.md: cdd identity holds on most rows, a few deliberately off
    si = dag["stg_inputs"]
    from pyspark.sql import functions as F

    off = si.filter(F.abs(F.col("cdd_days") - F.col("calculated_cdd_days")) > 1e-9)
    n_off, n_total = off.count(), si.count()
    assert 0 < n_off < 0.1 * n_total


WINDOW = ("2024-03-01 00:00:00", "2024-03-08 00:00:00")


def test_analytics_parity(dag, ora):
    start, end = WINDOW
    cases = {
        "distinct_tx": (
            analytics.distinct_transaction_count(dag["fct_transaction_traces"], start, end),
            f"SELECT COUNT(DISTINCT transaction_hash) AS total_transactions "
            f"FROM fct_transaction_traces WHERE tx_time BETWEEN '{start}' AND '{end}'",
        ),
        "avg_fee": (
            analytics.avg_nonzero_fee(dag["fct_transaction_traces"], start, end),
            f"SELECT COALESCE(AVG(NULLIF(fee_btc, 0)), 0) AS avg_fee_btc "
            f"FROM fct_transaction_traces WHERE tx_time BETWEEN '{start}' AND '{end}'",
        ),
        "most_active": (
            analytics.most_active_address(dag["fct_transaction_traces"], start, end),
            f"SELECT source_address, COUNT(*) AS flow_count FROM fct_transaction_traces "
            f"WHERE tx_time BETWEEN '{start}' AND '{end}' "
            f"GROUP BY source_address ORDER BY flow_count DESC, source_address ASC LIMIT 1",
        ),
        "richest": (
            analytics.richest_address(dag["dim_addresses"]),
            "SELECT address, current_balance_sats, current_balance_btc FROM dim_addresses "
            "ORDER BY current_balance_btc DESC, address ASC LIMIT 1",
        ),
        "block_metrics": (
            analytics.block_metrics(dag["dim_blocks"], start, end, limit=10000),
            f"SELECT block_id, block_time, transaction_count, fee_total_btc, reward_btc, "
            f"cdd_total_days FROM dim_blocks WHERE block_time BETWEEN '{start}' AND '{end}' "
            f"ORDER BY block_time, block_id LIMIT 10000",
        ),
        "balance_trend": (
            analytics.balance_trend(
                dag["int_address_balances_with_history"], "addr0001", start, end, limit=100000
            ),
            f"SELECT time, running_balance_btc, value_change_btc, transaction_hash "
            f"FROM int_address_balances_with_history WHERE address = 'addr0001' "
            f"AND time BETWEEN '{start}' AND '{end}' "
            f"ORDER BY time, transaction_hash LIMIT 100000",
        ),
    }
    for name, (df, sql) in cases.items():
        r = compare_frames(name, df.toPandas(), ora.execute(sql).fetchdf(), float_tol=FLOAT_TOL)
        assert r.ok, f"{name}: {r.mismatches[:5]}"


def test_trace_parity_vs_recursive_cte(dag, ora):
    start, end = WINDOW
    got = analytics.trace_from_address(
        dag["fct_transaction_traces"],
        dag["dim_blocks"],
        "addr0000",
        start,
        end,
        max_hops=3,
        limit=None,
    ).toPandas()
    want = ora.execute(
        f"""
WITH RECURSIVE tp AS (
  SELECT 1 AS hop, source_address AS src, destination_address AS dst,
         transaction_hash AS tx_hash, tx_time
  FROM fct_transaction_traces
  WHERE source_address = 'addr0000' AND tx_time BETWEEN '{start}' AND '{end}'
  UNION ALL
  SELECT p.hop + 1, t.source_address, t.destination_address,
         t.transaction_hash, t.tx_time
  FROM fct_transaction_traces t
  JOIN tp p ON p.dst = t.source_address
  WHERE p.hop < 3 AND t.tx_time BETWEEN '{start}' AND '{end}'
),
tx_blocks AS (
  SELECT transaction_hash, MIN(block_id) AS block_id,
         MIN(transferred_value_btc) AS value_btc
  FROM fct_transaction_traces
  WHERE tx_time BETWEEN '{start}' AND '{end}'
  GROUP BY transaction_hash
)
SELECT tp.hop, tp.src AS source_address, tp.dst AS destination_address,
       tp.tx_hash AS transaction_hash, tp.tx_time, tb.value_btc,
       b.block_time, b.guessed_miner
FROM tp
JOIN tx_blocks tb ON tp.tx_hash = tb.transaction_hash
JOIN dim_blocks b ON tb.block_id = b.block_id
"""
    ).fetchdf()
    r = compare_frames("trace3", got, want, float_tol=FLOAT_TOL)
    assert r.ok, r.mismatches[:5]
    # the fixture's 4-hop cycle means hop 3 must exist and revisit addr0000
    assert (got["hop"] == 3).any()


def test_trace_on_user_built_mart_matches_model_trace(dag, spark):
    """A mart built by hand over the flows keeps ``tx_time`` as a bare
    pass-through of a ``spark.sql`` relation: the trace must still
    checkpoint its frontiers and return the model mart's rows."""
    start, end = WINDOW
    mart = spark.sql("SELECT * FROM {f}", f=dag["int_transaction_flows"]).selectExpr(
        "input_address AS source_address",
        "output_address AS destination_address",
        "transaction_hash",
        "block_id",
        "tx_time",
        "input_value_btc AS transferred_value_btc",
    )

    def trace(fct):
        return analytics.trace_from_address(
            fct, dag["dim_blocks"], "addr0000", start, end, max_hops=3, limit=None
        ).toPandas()

    got, want = trace(mart), trace(dag["fct_transaction_traces"])
    r = compare_frames("trace3_user_mart", got, want, float_tol=FLOAT_TOL)
    assert r.ok, r.mismatches[:5]
    assert (got["hop"] == 3).any()


def test_flow_fanout_survives_hot_transaction(spark, tmp_path):
    """Skew stress: one transaction with 150 inputs × 150 outputs
    (22,500-row fan-out from a single join key) — the J2 hazard AQE's
    skew-join splitting must absorb. Verifies row counts stay exact
    under the skewed plan."""
    import pandas as pd

    from blockchair_etl_spark.transform.intermediate import int_transaction_flows
    from blockchair_etl_spark.transform.staging import (
        stg_blocks,
        stg_inputs,
        stg_outputs,
        stg_transactions,
    )

    tables = generate()
    hot_tx = "f" * 64
    btime = pd.Timestamp("2024-03-01 00:00:00")
    block_id = 800000
    n = 150
    hot_inputs = pd.DataFrame(
        [
            dict(tables["inputs"].iloc[0].to_dict(), transaction_hash=hot_tx,
                 block_id=block_id, index=i, time=btime)
            for i in range(n)
        ]
    )
    hot_outputs = pd.DataFrame(
        [
            dict(tables["outputs"].iloc[0].to_dict(), transaction_hash=hot_tx,
                 block_id=block_id, index=i, time=btime)
            for i in range(n)
        ]
    )
    hot_tx_row = pd.DataFrame(
        [dict(tables["transactions"].iloc[1].to_dict(), hash=hot_tx,
              block_id=block_id, input_count=n, output_count=n)]
    )
    tables["inputs"] = pd.concat([tables["inputs"], hot_inputs], ignore_index=True)
    tables["outputs"] = pd.concat([tables["outputs"], hot_outputs], ignore_index=True)
    tables["transactions"] = pd.concat(
        [tables["transactions"], hot_tx_row], ignore_index=True
    )
    d = tmp_path / "skewfix"
    d.mkdir()
    write_parquet(tables, str(d))
    raw = {
        name: spark.read.parquet(f"{d}/{name}.parquet")
        for name in ["blocks", "transactions", "inputs", "outputs"]
    }
    flows = int_transaction_flows(
        stg_blocks(raw["blocks"]),
        stg_transactions(raw["transactions"]),
        stg_inputs(raw["inputs"]),
        stg_outputs(raw["outputs"]),
    )
    hot_rows = flows.filter(flows.transaction_hash == hot_tx).count()
    assert hot_rows == n * n
    # total still matches the per-tx invariant
    import pyspark.sql.functions as SF

    per_tx = flows.groupBy("transaction_hash").count()
    tx = raw["transactions"].select(
        "hash",
        (SF.greatest(SF.col("input_count"), SF.lit(1))
         * SF.greatest(SF.col("output_count"), SF.lit(1))).alias("expect"),
    )
    bad = per_tx.join(tx, per_tx.transaction_hash == tx.hash).filter(
        SF.col("count") != SF.col("expect")
    )
    assert bad.count() == 0
