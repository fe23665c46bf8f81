"""The DAG models and the quality suite are SQL text: building them costs
a bounded number of py4j calls, the suite rejects a check kind it has
no fragment for, and a suite config from outside the program reaches
the SQL only as quoted identifiers and bound parameters."""

import gc
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from blockchair_etl_spark.quality.checks import REFERENCE_SUITE
from blockchair_etl_spark.quality.suite import CheckSpec, run_config_suite
from blockchair_etl_spark.transform import intermediate, marts, staging

from blockchain_fixtures import generate, write_parquet


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("model_sql_fixture")
    write_parquet(generate(), str(d))
    return {
        n: spark.read.parquet(f"{d}/{n}.parquet")
        for n in ["blocks", "transactions", "inputs", "outputs", "addresses"]
    }


def _build(raw):
    stg = {f"stg_{n}": getattr(staging, f"stg_{n}")(raw[n]) for n in raw}
    flows = intermediate.int_transaction_flows(
        stg["stg_blocks"], stg["stg_transactions"], stg["stg_inputs"], stg["stg_outputs"]
    )
    balances = intermediate.int_address_balances_with_history(
        stg["stg_addresses"], stg["stg_inputs"], stg["stg_outputs"]
    )
    marts.fct_transaction_traces(flows)
    marts.dim_addresses(balances)
    marts.dim_blocks(stg["stg_blocks"])
    specs = [
        CheckSpec(t, "", "unique_combination_of_columns", tuple(c))
        if k == "combo"
        else CheckSpec(t, c, k, ())
        for t, k, c in REFERENCE_SUITE
    ]
    return run_config_suite(stg, specs)


def test_models_and_suite_build_within_a_py4j_budget(raw):
    # As Column code the ten models and the suite relation made 5,800-7,300
    # calls (PySpark 4 captures an origin around every Column call); as SQL
    # text about 140. Only this thread's calls count: py4j's finalizer
    # thread sends the deletes of earlier objects on its own schedule.
    _build(raw)  # warm the JVM-side reflection caches
    me, calls = threading.get_ident(), []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command)

    gc.collect()
    ClientServerConnection.send_command = counting
    try:
        _build(raw)
    finally:
        ClientServerConnection.send_command = send
    assert len(calls) <= 300, len(calls)


def test_unknown_check_kind_is_rejected(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    with pytest.raises(ValueError, match="uniqe"):
        run_config_suite({"t": df}, [CheckSpec("t", "k", "uniqe", ())])


def test_accepted_values_with_no_values_flags_every_non_null_row(spark):
    from blockchair_etl_spark.quality.checks import accepted_values_violations

    df = spark.createDataFrame([("a",), ("b",), (None,)], "v string")
    assert accepted_values_violations(df, "v", []).count() == 2


def test_suite_config_reaches_sql_only_as_identifiers_and_parameters(spark, monkeypatch):
    col = "we`ird {col} x"
    values = ["'", ":", "{"]
    rows = [("'", "k0"), ("'", "k0"), (":", "k2"), ("{", "k1"), ("}", "k1"), ("x", "k2"), (None, "k0")]
    child = spark.createDataFrame(rows, f"`{col.replace('`', '``')}` string, k string")
    parent = spark.createDataFrame([("k0",), ("k1",)], "`{p}` string")
    config = {
        "models": [
            {
                "name": "m`{0}",
                "columns": [
                    {"name": col, "tests": ["unique", "not_null", {"accepted_values": {"values": values}}]},
                    {"name": "k", "tests": [{"relationships": {"to": "p}", "field": "{p}"}}]},
                ],
                "tests": [{"unique_combination_of_columns": {"combination": [col, "k"]}}],
            }
        ]
    }
    texts = []
    sql = type(spark).sql
    monkeypatch.setattr(type(spark), "sql", lambda s, q, *a, **k: texts.append(q) or sql(s, q, *a, **k))
    report = run_config_suite({"m`{0}": child, "p}": parent}, config).collect()

    c = F.col(f"`{col.replace('`', '``')}`")
    expected = {
        "unique": child.filter(c.isNotNull()).groupBy(c).count().filter("count > 1").count(),
        "not_null": child.filter(c.isNull()).count(),
        "accepted_values": child.filter(c.isNotNull() & ~c.isin(values)).count(),
        "relationships": child.join(parent, child["k"] == parent["`{p}`"], "left_anti").count(),
        "unique_combination_of_columns": child.groupBy(c, "k").count().filter("count > 1").count(),
    }
    got = {r.test: (r.model, r.column, r.n_violations, r.passed) for r in report}
    assert {t: g[2] for t, g in got.items()} == expected
    assert expected == {
        "unique": 1, "not_null": 1, "accepted_values": 2,
        "relationships": 2, "unique_combination_of_columns": 1,
    }
    assert got["unique"][:2] == ("m`{0}", col) and got["relationships"][:2] == ("m`{0}", "k")
    assert all(passed == (n == 0) for _, _, n, passed in got.values())
    # one statement, and no value was written into it as a literal
    assert len(texts) == 1 and "'" not in texts[0]
