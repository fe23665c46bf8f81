"""Tests of the benchmark itself: input determinism, the metric contract
with BENCHMARK.json, that a wrong result is counted, that a run stops
every process it started, and a tiny run of every workload. Run from the
repository root:

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import common  # noqa: E402
import daily  # noqa: E402
import dashboard  # noqa: E402
import daygen  # noqa: E402
import run  # noqa: E402
from blockchair_etl_spark.query import analytics  # noqa: E402

TINY_DAY = daygen.DaySize(blocks=8, tx_per_block=8, addresses=100, cold_addresses=3)
SEED = 990001


@pytest.fixture()
def spark():
    from blockchair_etl_spark.session import get_session

    return get_session(master="local[2]")


@pytest.fixture()
def tiny(monkeypatch):
    monkeypatch.setattr(daily, "SIZE", TINY_DAY)
    monkeypatch.setattr(daily, "MIN_DAYS", 1)
    monkeypatch.setattr(dashboard, "SIZE", TINY_DAY)
    monkeypatch.setattr(dashboard, "WARMUP_REQUESTS", 1)
    monkeypatch.setattr(dashboard, "MIN_REQUESTS", 16)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", str(SEED), "--seconds", "0",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_day_files_are_byte_deterministic_per_seed(spark, tmp_path):
    a = daygen.write_day(spark, 5, 0, TINY_DAY, str(tmp_path / "a"))
    daygen.write_day(spark, 5, 0, TINY_DAY, str(tmp_path / "b"))
    daygen.write_day(spark, 6, 0, TINY_DAY, str(tmp_path / "c"))
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    assert sorted(os.path.basename(p) for p in a.values()) == sorted(os.listdir(tmp_path / "a"))


def test_day_files_keep_fixture_invariants(spark, tmp_path):
    paths = daygen.write_day(spark, 5, 0, daygen.DaySize(), str(tmp_path))

    def read(kind):
        with gzip.open(paths[kind], "rt") as f:
            return pd.read_csv(f, sep="\t", keep_default_na=False, na_values=[""])

    tx, inp, out, addr = (read(k) for k in ("transactions", "inputs", "outputs", "addresses"))
    # fee conservation and child counts (the flow fan-out identity rests on them)
    paid = tx[tx.is_coinbase == 0]
    assert (paid.input_total == paid.output_total + paid.fee).all()
    assert (inp.groupby("transaction_hash").size()[tx.hash].values == tx.input_count).all()
    assert (out.groupby("transaction_hash").size()[tx.hash].values == tx.output_count).all()
    assert (tx.fee == 0).sum() > (tx.is_coinbase == 1).sum()
    # CDD identity on most inputs, deliberately off on a few
    off = (inp.cdd - inp.lifespan / 86400.0 * inp.value / 1e8).abs() > 1e-6
    assert 0 < off.sum() < 0.1 * len(inp)
    assert inp.recipient.isna().any() and out.recipient.isna().any()
    # (address, time) ties for the running balance's RANGE frame
    changes = pd.concat([inp[["recipient", "time"]], out[["recipient", "time"]]]).dropna()
    assert changes.duplicated().any()
    # the planted chain with its cycle, and zero-activity addresses
    chain = inp[inp.recipient.str.startswith("chain", na=False)].merge(
        out, on="transaction_hash", suffixes=("_in", "_out"))
    hops = set(zip(chain.recipient_in, chain.recipient_out))
    assert hops == {("chain0", "chain1"), ("chain1", "chain2"), ("chain2", "chain3"),
                    ("chain3", "chain0")}
    active = set(inp.recipient.dropna()) | set(out.recipient.dropna())
    assert any(a.startswith("cold") and a not in active for a in addr.address)


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in bench["workloads"]] == ["daily_build", "dashboard_serve"]


def test_stop_processes_ends_every_descendant():
    # in a process of its own: here it would also stop this session's JVM
    script = (
        "import os, subprocess, time, common\n"
        "subprocess.Popen(['bash', '-c', 'sleep 60 & sleep 60 & wait'])\n"
        "while len(common.descendants(os.getpid())) < 3: time.sleep(0.05)\n"
        "print(*common.descendants(os.getpid()))\n"
        "common.stop_processes(timeout=5)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=HERE, capture_output=True,
                         text=True, timeout=60, check=True).stdout
    pids = [int(p) for p in out.split()]
    assert len(pids) == 3
    assert not any(common.running(p) for p in pids)


def test_tiny_runs_of_every_workload(tiny, capsys):
    bench = _bench()
    for workload in ("daily_build", "dashboard_serve"):
        out = _run(capsys, workload, trace=0)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
        assert set(out["metrics"]) == {m["name"] for m in bench["end_to_end"]}
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]
    traced = _run(capsys, "daily_build", trace=1)
    assert set(traced["metrics"]) == {m["name"] for m in bench["per_layer"]}
    assert traced["metrics"]["quality.checks_jobs"]["value"] > 0


def test_planted_wrong_result_is_counted(tiny, capsys, monkeypatch):
    real = analytics.avg_nonzero_fee

    def wrong(fct, start, end):
        df = real(fct, start, end)
        return df.select((df.avg_fee_btc + 1.0).alias("avg_fee_btc"))

    monkeypatch.setattr(analytics, "avg_nonzero_fee", wrong)
    out = _run(capsys, "dashboard_serve", trace=0)
    assert not out["correct"]
    assert 0 < out["failed"] < out["attempted"]
    cpus = len(os.sched_getaffinity(0))
    with open(os.path.join(run.RECORDS, f"dashboard_serve-c{cpus}-s{SEED}-t0.json")) as f:
        assert json.load(f)["error_rate"] > 0
