"""Driver-contract smoke tests for __spark_entry__."""

import pytest

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema is not None


def test_contract_key_consistency():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "queries() must not be empty"
    assert set(o).issubset(set(q))
    for name, fn in q.items():
        assert callable(fn), name


def test_bench_headline_names_are_registered():
    """Every headline, scaling and pair-gate name resolves to exactly
    one runner, either a registry entry or an extra runner. A renamed
    entry silently dropping out of a bench record is how a regression
    goes unmeasured, and a name listed under both kinds times another
    program than its list claims."""
    import bench
    import bench_scaling

    from blockchair_etl_spark.queryset import QUERIES

    for registry, extras in (
        (bench.HEADLINE, bench.HEADLINE_EXTRAS),
        (bench_scaling.FAMILY, list(bench.EXTRAS)),
    ):
        names = registry + extras
        assert sorted({n for n in names if names.count(n) > 1}) == []
        assert [n for n in registry if n not in QUERIES] == []
        assert [n for n in extras if n not in bench.EXTRAS] == []
    scaling = set(bench_scaling.FAMILY) | set(bench.EXTRAS)
    assert sorted(set(bench_scaling.PAIR_QUERIES) - scaling) == []


def test_registry_rotation_window():
    """The driver verifies the first 50 registry entries per round.

    Never-driver-verified entries (from the CORRECTNESS_r*.json history)
    must lead the iteration order; any remaining window slots must be
    filled with previously-verified entries so regressions resurface.
    Rotation must never drop or duplicate keys.
    """
    from blockchair_etl_spark.queryset import (
        _DRIVER_WINDOW,
        _load_driver_verified,
        QUERIES,
    )

    verified = _load_driver_verified()
    assert verified and max(verified.values()) >= 1
    keys = list(QUERIES)
    assert len(keys) == len(set(keys))
    unverified = [k for k in keys if k not in verified]
    # every never-verified entry sits ahead of every verified entry
    assert keys[: len(unverified)] == unverified
    # spare window slots are used for re-verification of old entries
    window = keys[:_DRIVER_WINDOW]
    spare = max(0, _DRIVER_WINDOW - len(unverified))
    if spare and verified:
        assert sum(1 for k in window if k in verified) == min(
            spare, len(verified)
        )


def test_driver_history_orders_rounds_numerically(tmp_path):
    """CORRECTNESS_r10.json sorts lexicographically BEFORE r2 — the
    history replay must order by the parsed round number so the most
    recent round wins. A key green in r9 but red in r10 is unverified;
    a key re-verified in r10 carries last_round=10, not 2."""
    import json

    from blockchair_etl_spark.queryset import _load_driver_verified

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"regressed": green, "reverified": green})
    )
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"regressed": green}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"regressed": red, "reverified": green})
    )
    verified = _load_driver_verified(root=tmp_path)
    assert "regressed" not in verified  # r10 red must not be masked by r2/r9
    assert verified["reverified"] == 10  # rotation key is the LATEST round


def test_rotation_is_oldest_first(monkeypatch):
    """Verified entries must be ordered by ascending last-verified round
    (the anti-staleness property the rotation exists for): after a round
    verifies the current window, the NEXT window lands on the cohort
    whose last driver check is oldest."""
    import blockchair_etl_spark.queryset as qs

    verified = qs._load_driver_verified()
    if len(verified) < qs._DRIVER_WINDOW:
        return  # not enough verified entries for the property to bind

    try:
        monkeypatch.setattr(qs, "_load_driver_verified", lambda: dict(verified))
        qs._rotate_registry()
        keys = list(qs.QUERIES)
        rounds = [verified[k] for k in keys if k in verified]
        assert rounds == sorted(rounds)
        # simulate the driver verifying this round's window at round R+1:
        # the next window must rotate onto a cohort at least as stale
        nxt = dict(verified)
        new_round = max(verified.values()) + 1
        for k in keys[: qs._DRIVER_WINDOW]:
            nxt[k] = new_round
        monkeypatch.setattr(qs, "_load_driver_verified", lambda: nxt)
        qs._rotate_registry()
        keys2 = list(qs.QUERIES)
        assert set(keys2[: qs._DRIVER_WINDOW]) != set(keys[: qs._DRIVER_WINDOW])
        rounds2 = [nxt[k] for k in keys2 if k in nxt]
        assert rounds2 == sorted(rounds2)
    finally:
        monkeypatch.undo()
        qs._rotate_registry()


def test_prepare_session_skips_static_conf_with_warning(spark, monkeypatch):
    """A static conf cannot be set on a live session: prepare_session
    warns with its name, does not raise, and still applies the rest."""
    from blockchair_etl_spark import session

    monkeypatch.setattr(session, "RUNTIME_CONFS", {
        "spark.sql.warehouse.dir": "/nonexistent-warehouse",
        **session.RUNTIME_CONFS,
    })
    keys = ("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        with pytest.warns(RuntimeWarning, match="spark.sql.warehouse.dir"):
            session.prepare_session(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        partitions = str(session.default_shuffle_partitions())
        assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
        assert spark.conf.get("spark.sql.warehouse.dir") != "/nonexistent-warehouse"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
