"""dashboard_serve: the read path of the paper's dashboard.

Set-up builds the serving lake: one seeded day is loaded and run through
``run_transform_dag`` with the reference materializations, so a layout
change shows on writes (daily_build) and on these reads. The timed part is
one closed-loop client: each request waits for the previous reply. Every
request goes through one ``QueryCache``, so repeated (kind, params) pairs
are served from it; the share of hits is a property of the seeded mix.
The workload never runs inference, the load or the DAG while timed.
"""

from __future__ import annotations

import itertools
import random
import time
import traceback
from datetime import datetime, timedelta

from blockchair_etl_spark import caching, pipeline
from blockchair_etl_spark.io import sources
from blockchair_etl_spark.query import analytics
from blockchair_etl_spark.schema.registry import RAW_SCHEMAS, TABLE_FILE_PATTERNS

import daygen
import oracle
from common import Outcome, median, tree_peak_rss_mb

SIZE = daygen.DaySize()
WARMUP_REQUESTS = 2
# request kind -> cards in a deck of 20. Three quarters are light panels,
# so the median falls inside their latencies; a quarter are traces, most
# of them 3-hop, so the 90th percentile falls inside the 3-hop traces.
MIX = {
    "distinct_tx": 3,
    "avg_fee": 2,
    "most_active": 3,
    "richest": 1,
    "balance_trend": 3,
    "block_metrics": 3,
    "trace": 5,
}
TRACE_HOPS = (3, 1, 3, 2, 3)  # dealt in this cycle
MIN_REQUESTS = 40  # two decks
WINDOW_HOURS = (1, 2, 3, 4, 6, 8, 12, 24)
WINDOW_ENDS = (4, 8, 12, 16, 20, 24)
LAYERS = {
    **{f"query.analytics.{k}_p50_ms": "ms" for k in MIX},
    "query.analytics.construct_ms_p50": "ms",
    "query.analytics.execute_ms_p50": "ms",
    "pipeline.cache_hit_ratio": "ratio",
    "pipeline.retries": "count",
    **{f"query.trace.hop{h}_p50_ms": "ms" for h in (1, 2, 3)},
    "query.trace.jobs_per_trace": "count",
    "query.trace.fallbacks": "count",
}


def requests(seed: int, size: daygen.DaySize):
    """Endless seeded request stream of (kind, params), dealt in decks
    that hold each kind as often as its weight, so every stretch of the
    stream has the same mix. Windows are 1-24 h presets ending at one of
    six refresh points of the day; addresses follow a Pareto law over the
    pool's activity ranks, with the planted chain asked for now and then."""
    rng = random.Random(seed)
    deck = [k for k, w in MIX.items() for _ in range(w)]
    day0 = datetime.strptime(daygen.day_start(0), "%Y-%m-%d %H:%M:%S")

    def window():
        end = day0 + timedelta(hours=rng.choice(WINDOW_ENDS))
        start = end - timedelta(hours=rng.choice(WINDOW_HOURS))
        return start.strftime("%Y-%m-%d %H:%M:%S"), end.strftime("%Y-%m-%d %H:%M:%S")

    def address():
        if rng.random() < 0.1:
            return rng.choice(daygen.CHAIN[:4])
        rank = min(int(rng.paretovariate(0.8)) - 1, size.addresses - 1)
        return daygen.pool_address(seed, rank)

    hops = itertools.cycle(TRACE_HOPS)
    while True:
        rng.shuffle(deck)
        for kind in deck:
            if kind == "richest":
                yield kind, ()
            elif kind == "balance_trend":
                yield kind, (address(), *window())
            elif kind == "trace":
                yield kind, (address(), *window(), next(hops))
            else:
                yield kind, window()


def _query(kind: str, params: tuple, marts: dict):
    fct, dim_b = marts["fct_transaction_traces"], marts["dim_blocks"]
    if kind == "distinct_tx":
        return analytics.distinct_transaction_count(fct, *params)
    if kind == "avg_fee":
        return analytics.avg_nonzero_fee(fct, *params)
    if kind == "most_active":
        return analytics.most_active_address(fct, *params)
    if kind == "richest":
        return analytics.richest_address(marts["dim_addresses"])
    if kind == "balance_trend":
        return analytics.balance_trend(marts["int_address_balances_with_history"], *params)
    if kind == "block_metrics":
        return analytics.block_metrics(dim_b, *params)
    address, start, end, hops = params
    return analytics.trace_from_address(fct, dim_b, address, start, end, max_hops=hops)


def build_lake(ctx, files: list[str], lake: str) -> dict:
    raw, _ = sources.load_with_pattern_routing(ctx.spark, files, TABLE_FILE_PATTERNS, RAW_SCHEMAS)
    marts, _ = pipeline.run_transform_dag(raw, base_path=lake, with_checks=False)
    return marts


def run(ctx) -> Outcome:
    tr = ctx.tracer
    paths = daygen.write_day(ctx.spark, ctx.seed, 0, SIZE, f"{ctx.work}/raw")
    files = [paths[t] for t in daygen.TYPES] + [paths["malformed"]]
    lake = f"{ctx.work}/lake"
    t0 = time.perf_counter()
    marts = build_lake(ctx, files, lake)
    setup_s = [time.perf_counter() - t0]

    stream = requests(ctx.seed, SIZE)
    warm = pipeline.QueryCache()
    warm_rng = requests(ctx.seed + 1_000_003, SIZE)
    for _ in range(WARMUP_REQUESTS):
        kind, params = next(warm_rng)
        warm.run(kind, params, lambda: _query(kind, params, marts))

    tr.wrap(analytics, "trace_funds_with_fallback", lambda *a, **k: "query.trace.trace_funds",
            note=lambda out: {"effective_hops": out[1]})
    cache = pipeline.QueryCache()
    log: list[dict] = []  # one entry per request
    results: dict[tuple, list] = {}
    failed_keys: set[tuple] = set()
    problems: list[str] = []
    leaked = 0
    ctx.start_clock()
    while ctx.more(len(log), MIN_REQUESTS):
        kind, params = next(stream)
        entry = {"kind": kind, "params": params, "builds": 0, "construct_s": 0.0}

        def build(kind=kind, params=params, entry=entry):
            entry["builds"] += 1
            t0 = time.perf_counter()
            with tr.span(f"query.analytics.construct:{kind}"):
                df = _query(kind, params, marts)
            entry["construct_s"] += time.perf_counter() - t0
            return df

        tr.op = len(log)
        t0 = time.perf_counter()
        try:
            with tr.span(f"request:{kind}"):
                rows = cache.run(kind, params, build)
            results.setdefault((kind, params), rows)
        except Exception:  # noqa: BLE001 — a failed request is counted, the loop goes on
            failed_keys.add((kind, params))
            problems.append(f"{kind}{params} failed: {traceback.format_exc(limit=3)}")
        entry["latency_s"] = time.perf_counter() - t0
        log.append(entry)
        leaked = max(leaked, caching.tracked_count())
    peak = tree_peak_rss_mb()

    check = oracle.ServeOracle(lake)
    try:
        for key, rows in results.items():
            bad = check.check(*key, rows)
            if bad:
                failed_keys.add(key)
                problems += bad
    finally:
        check.close()

    op_s = [e["latency_s"] for e in log]
    by_kind = {k: [e["latency_s"] for e in log if e["kind"] == k] for k in MIX}
    misses = [e for e in log if e["builds"]]
    traces = [(i, e) for i, e in enumerate(log) if e["kind"] == "trace" and e["builds"]]
    trace_spans = {s["op"]: s for s in tr.named("query.trace.trace_funds")}
    layers = {
        **{f"query.analytics.{k}_p50_ms": median(v) * 1000 for k, v in by_kind.items()},
        "query.analytics.construct_ms_p50": median(e["construct_s"] for e in misses) * 1000,
        "query.analytics.execute_ms_p50": median(
            e["latency_s"] - e["construct_s"] for e in misses) * 1000,
        "pipeline.cache_hit_ratio": 1 - len(misses) / len(log),
        "pipeline.retries": sum(e["builds"] - 1 for e in misses),
        **{f"query.trace.hop{h}_p50_ms": median(
            e["latency_s"] for e in log if e["kind"] == "trace" and e["params"][3] == h) * 1000
           for h in (1, 2, 3)},
        "query.trace.jobs_per_trace": median(tr.per_op("jobs", [i for i, _ in traces])),
        "query.trace.fallbacks": sum(
            1 for i, e in traces
            if i in trace_spans and trace_spans[i]["effective_hops"] < e["params"][3]),
        "engine.jobs": median(tr.per_op("jobs", range(len(log)))),
        "engine.stages": median(tr.per_op("stages", range(len(log)))),
        "engine.tasks": median(tr.per_op("tasks", range(len(log)))),
        "caching.tracked_leaked": leaked,
        "trace.coverage": sum(tr.per_op("top_s", range(len(log)))) / sum(op_s),
    }
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        pass_s=sum(median(v) for v in by_kind.values()),
        peak_rss_mb=peak,
        failed=sum(1 for e in log if (e["kind"], e["params"]) in failed_keys),
        problems=problems,
        layers=layers,
    )
