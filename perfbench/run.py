"""Benchmark of the blockchair_etl_spark engine: the paper's daily build
and its dashboard.

    python3 perfbench/run.py --workload daily_build --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see BENCHMARK.json):

- ``daily_build``: each day is a fresh seeded set of dump files; a day is
  schema inference + ratchet, the pattern-routed load that skips the
  malformed file, and the stg/int/mart DAG with its quality checks.
- ``dashboard_serve``: one closed-loop client sends a seeded mix of
  dashboard requests through ``QueryCache`` to marts built in set-up.

Inputs come only from ``--seed``. Outputs are checked against DuckDB
outside the timed region. With ``--trace 0`` the last stdout line holds
the end-to-end metrics; with ``--trace 1`` a separate, traced run reports
the per-layer metrics from spans around the calls into each layer. Each
run also writes ``perfbench/records/<workload>-c<cpus>-s<seed>-t<trace>.json``
(plus ``...-spans.json`` when traced).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORDS = os.path.join(HERE, "records")
WORK = os.path.join(HERE, "work")

# name -> unit; every workload prints every metric of its mode
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    import daily
    import dashboard

    names = {
        "engine.action_floor_ms": "ms",
        "engine.jobs": "count",
        "engine.stages": "count",
        "engine.tasks": "count",
        "caching.tracked_leaked": "count",
        "trace.coverage": "ratio",
        "jvm.heap_peak_mb": "MB",
        "jvm.heap_retained_mb": "MB",
        "traced.op_p50_ms": "ms",
        "traced.pass_s": "s",
    }
    for mod in (daily, dashboard):
        names.update(mod.LAYERS)
    return names


def _session(cpus: int, work: str):
    from blockchair_etl_spark.session import get_session

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM of the run, the spark-submit launcher included, keeps its
    # temporary files in the run directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    # A heap that grows as G1 likes (get_session's 8g default) made peak RSS
    # differ by a third between seeds, so the heap is fixed at 1g and
    # pre-touched: peak_rss_mb then moves with off-heap and Python memory,
    # and the jvm.heap_* layer metrics show what happens inside the heap.
    return get_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _compact(metrics: dict) -> str:
    return " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_build", "dashboard_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    import blockchair_etl_spark  # noqa: F401 — fail fast outside a checkout

    import daily
    import dashboard
    from common import Ctx, action_floor_ms, jvm_heap_mb, median, p90
    from tracing import Tracer

    workload = {"daily_build": daily, "dashboard_serve": dashboard}[args.workload]
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-c{cpus}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, f"{tag}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # keep every temporary file of the run (py4j, Spark, DuckDB) in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = work
    t_start = time.perf_counter()
    spark = _session(cpus, work)
    tracer = Tracer(spark, enabled=bool(args.trace))
    try:
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
        out = workload.run(ctx)
        if args.trace:
            heap_peak, heap_retained = jvm_heap_mb(spark)
            floor_ms = action_floor_ms(spark)
    finally:
        tracer.unpatch()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(out.op_s)
    e2e = {
        "setup_s": median(out.setup_s),
        "op_p50_ms": median(out.op_s) * 1000,
        "op_p90_ms": p90(out.op_s) * 1000,
        "pass_s": out.pass_s,
        "peak_rss_mb": out.peak_rss_mb,
    }
    if args.trace:
        units = per_layer_names()
        layers = dict.fromkeys(units, 0.0)
        layers.update(out.layers)
        layers["engine.action_floor_ms"] = floor_ms
        layers["jvm.heap_peak_mb"] = heap_peak
        layers["jvm.heap_retained_mb"] = heap_retained
        layers["traced.op_p50_ms"] = e2e["op_p50_ms"]
        layers["traced.pass_s"] = e2e["pass_s"]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    record = {
        "workload": args.workload, "cpus": cpus, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "wall_s": time.perf_counter() - t_start,
        "attempted": attempted, "failed": out.failed,
        "error_rate": out.failed / max(attempted, 1),
        "problems": out.problems[:50], "end_to_end": e2e,
        "setup_samples_s": out.setup_s, "op_samples_s": out.op_s,
        "layers": out.layers if args.trace else {}, **out.notes,
    }
    os.makedirs(RECORDS, exist_ok=True)
    if args.trace:
        untraced = os.path.join(RECORDS, f"{args.workload}-c{cpus}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k] / base[k] for k in ("op_p50_ms", "pass_s") if base.get(k)
            }
        tracer.dump(os.path.join(RECORDS, f"{tag}-spans.json"))
    with open(os.path.join(RECORDS, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    for p in out.problems[:20]:
        print("MISMATCH", p)
    print(f"record perfbench/records/{tag}.json error_rate={record['error_rate']:.4f} "
          f"attempted={attempted} failed={out.failed} "
          f"tracing_overhead={record.get('tracing_overhead')}")
    print(_compact(metrics))
    print(json.dumps({
        "correct": out.failed == 0 and not out.problems,
        "attempted": max(attempted, 1),
        "failed": out.failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from common import stop_processes

    try:
        code = main()
    finally:
        stop_processes()
    sys.exit(code)
