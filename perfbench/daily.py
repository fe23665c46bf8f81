"""daily_build: the paper's daily run, one fresh day of dump files at a time.

A day is timed from schema inference to the end of the DAG's quality
checks: ``infer_from_tsv`` + ``apply_ratchet`` on each of the six files,
``load_with_pattern_routing`` (which must skip the one malformed file),
then ``run_transform_dag`` writing the table models to the day's lake.
Generating the day's files is set-up. The first timed day is the JVM's
cold run of every plan and the others are warm, as a daily job that
starts fresh sees them: with three days the median is a warm day and the
90th percentile sits near the cold one. The workload never touches the
query layer or ``QueryCache``.
"""

from __future__ import annotations

import os
import re
import time
import traceback

from blockchair_etl_spark import caching, pipeline
from blockchair_etl_spark.io import sources
from blockchair_etl_spark.schema import inference
from blockchair_etl_spark.schema.registry import RAW_SCHEMAS, TABLE_FILE_PATTERNS

import daygen
import oracle
from common import Outcome, median, tree_peak_rss_mb
from tracing import dur

SIZE = daygen.DaySize()
MIN_DAYS = 3
LAYERS = {
    "schema.inference.infer_s": "s",
    "io.sources.load_s": "s",
    "io.sources.files_skipped_ratio": "ratio",
    "pipeline.dag_s": "s",
    "quality.checks_s": "s",
    "quality.checks_jobs": "count",
    "io.sinks.lake_bytes_per_raw_byte": "ratio",
    **{f"io.sinks.materialize_s.{m}": "s" for m in oracle.TABLE_MODELS},
    **{f"io.sinks.bytes_written.{m}": "bytes" for m in oracle.TABLE_MODELS},
}


def _table_of(path: str) -> str:
    name = os.path.basename(path)
    return next(t for t, pat in TABLE_FILE_PATTERNS.items() if re.search(pat, name))


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def build_day(ctx, files: list[str], schemas: dict, lake: str):
    """One day: inference + ratchet per file, routed load, DAG + checks."""
    spark, tr = ctx.spark, ctx.tracer
    for f in files:
        with tr.span("schema.inference"):
            new = inference.infer_from_tsv(spark, f)
        table = _table_of(f)
        try:
            schemas[table] = inference.apply_ratchet(new, schemas.get(table))
        except inference.SchemaSkip:
            pass  # not a widening: the stored schema stays
    with tr.span("io.sources.load"):
        raw, report = sources.load_with_pattern_routing(
            spark, files, TABLE_FILE_PATTERNS, RAW_SCHEMAS
        )
    with tr.span("pipeline.run_transform_dag"):
        _, checks = pipeline.run_transform_dag(raw, base_path=lake)
    return report, checks


def run(ctx) -> Outcome:
    tr = ctx.tracer
    tr.wrap(pipeline, "materialize", lambda df, name, *a, **k: f"io.sinks.materialize:{name}")
    tr.wrap(pipeline, "run_checks", lambda *a, **k: "quality.run_checks")

    def generate(day: int) -> tuple[dict, float]:
        t0 = time.perf_counter()
        paths = daygen.write_day(ctx.spark, ctx.seed, day, SIZE, f"{ctx.work}/raw{day}")
        return paths, time.perf_counter() - t0

    schemas: dict = {}
    setup_s, op_s, days, leaked = [], [], [], 0
    failed_days: set[int] = set()
    problems: list[str] = []
    pending = generate(0)
    ctx.start_clock()
    while ctx.more(len(days), MIN_DAYS):
        day = len(days)
        paths, gen_s = pending if day == 0 else generate(day)
        setup_s.append(gen_s)
        files = [paths[t] for t in daygen.TYPES] + [paths["malformed"]]
        lake = f"{ctx.work}/lake{day}"
        tr.op = day
        t0 = time.perf_counter()
        report = checks = None
        try:
            report, checks = build_day(ctx, files, schemas, lake)
        except Exception:  # noqa: BLE001 — a failed day is counted, the run goes on
            failed_days.add(day)
            problems.append(f"day {day} failed: {traceback.format_exc(limit=3)}")
        op_s.append(time.perf_counter() - t0)
        leaked = max(leaked, caching.tracked_count())
        days.append((paths, lake, report, checks))
    peak = tree_peak_rss_mb()

    for day, (paths, lake, report, checks) in enumerate(days):
        if day in failed_days:
            continue
        bad = oracle.check_day(paths, lake)
        if [f for f, _ in report.skipped] != [paths["malformed"]]:
            bad.append(f"skipped {report.skipped}, expected only the malformed file")
        bad += [f"check {c.name}: {c.violations} violations" for c in checks if not c.passed]
        if bad:
            failed_days.add(day)
            problems += [f"day {day}: {b}" for b in bad]

    raw_bytes = [sum(os.path.getsize(p[t]) for t in daygen.TYPES) for p, *_ in days]
    written = {m: [_parquet_bytes(f"{lake}/{m}") for _, lake, *_ in days]
               for m in oracle.TABLE_MODELS}
    lake_ratio = median(sum(w[i] for w in written.values()) / raw_bytes[i]
                        for i in range(len(days)))
    ops = range(len(days))
    layers = {
        "schema.inference.infer_s": median(
            sum(dur(s) for s in tr.named("schema.inference") if s["op"] == i) for i in ops),
        "io.sources.load_s": median(dur(s) for s in tr.named("io.sources.load")),
        "io.sources.files_skipped_ratio": median(
            len(r.skipped) / (len(r.skipped) + len(r.loaded)) for _, _, r, _ in days if r),
        "pipeline.dag_s": median(dur(s) for s in tr.named("pipeline.run_transform_dag")),
        "quality.checks_s": median(dur(s) for s in tr.named("quality.run_checks")),
        "quality.checks_jobs": median(s.get("jobs", 0) for s in tr.named("quality.run_checks")),
        "io.sinks.lake_bytes_per_raw_byte": lake_ratio,
        "engine.jobs": median(tr.per_op("jobs", ops)),
        "engine.stages": median(tr.per_op("stages", ops)),
        "engine.tasks": median(tr.per_op("tasks", ops)),
        "caching.tracked_leaked": leaked,
        "trace.coverage": sum(tr.per_op("top_s", ops)) / sum(op_s),
    }
    for m in oracle.TABLE_MODELS:
        layers[f"io.sinks.materialize_s.{m}"] = median(
            dur(s) for s in tr.named(f"io.sinks.materialize:{m}"))
        layers[f"io.sinks.bytes_written.{m}"] = median(written[m])
    slowest = max(oracle.TABLE_MODELS, key=lambda m: layers[f"io.sinks.materialize_s.{m}"])
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        pass_s=sum(op_s) / len(op_s),
        peak_rss_mb=peak,
        failed=len(failed_days),
        problems=problems,
        layers=layers,
        notes={"largest_materialize": slowest if tr.enabled else None},
    )
