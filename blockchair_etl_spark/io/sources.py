"""Source readers: driver testdata, TSV/gzip scans, pattern-routed load.

Mirrors the reference's extract/load surface with Spark-native scans:

- TSV/gzip scan with header, projection and sampling
  (reference: pandas chunked reader `generate_snowflake_ddl.py:356-372`;
  Snowflake file format `create_snowflake_objects.sh:330-333`).
- Pattern routing + file-level error skip
  (reference: `COPY INTO ... PATTERN='.*blocks.*' ON_ERROR='skip_file'`,
  `load_data_to_snowflake.sh:109-134`).
- Driver testdata loaders (parquet, TPC-H-ish star schema) with the
  nanosecond-timestamp shim for events.
"""

from __future__ import annotations

import functools
import os
import re
import warnings
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..caching import jvm_plan
from ..session import inheriting, prepare_session

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata parquet table, normalizing types.

    events.ts is physically INT64 TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` (set by prepare_session)
    it reads as a long which we convert to a naive microsecond
    timestamp — the same truncation DuckDB applies when casting
    TIMESTAMP_NS → TIMESTAMP, keeping oracle parity.
    """
    prepare_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Integer DIV, not float division: nanosecond epochs (~1.7e18)
        # exceed double's 2^53 integer range, so ts/1000.0 is off by ±1µs.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def events_between(
    spark: SparkSession, sf_dir: str, start_ts: str, end_ts: str
) -> DataFrame:
    """Time-range scan of events with the predicate pushed to parquet.

    A filter on the *converted* timestamp (timestamp_micros(ts DIV
    1000)) cannot push through the expression, so the scan would read
    every row group. Filtering the raw nanosecond long first pushes
    min/max row-group pruning into the reader: converted ts ∈
    [A_us, B_us] ⟺ raw ns ∈ [A_us·1000, B_us·1000 + 999] — exactly
    equivalent under the DIV-1000 truncation.
    """
    prepare_session(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not isinstance(raw.schema["ts"].dataType, LongType):
        df = load_table(spark, sf_dir, "events")
        return df.filter(
            F.col("ts").between(
                F.lit(start_ts).cast("timestamp_ntz"), F.lit(end_ts).cast("timestamp_ntz")
            )
        )
    bounds = spark.createDataFrame(
        [(start_ts, end_ts)], "a string, b string"
    ).select(
        F.unix_micros(F.to_timestamp("a")).alias("a"),
        F.unix_micros(F.to_timestamp("b")).alias("b"),
    ).head()
    lo, hi = bounds[0] * 1000, bounds[1] * 1000 + 999
    return raw.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
    )


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    columns: list[str] | None = None,
    infer: bool = False,
) -> DataFrame:
    """Tab-delimited, header-row, (optionally gzip'd) scan.

    Spark picks the codec from the file extension; an explicit schema
    keeps the scan single-pass (inference costs an extra read). Column
    projection is expressed with ``.select`` so Catalyst prunes the
    parse to the requested columns.
    """
    reader = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("dateFormat", "yyyy-MM-dd")
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if columns:
        df = df.select(*columns)
    return df


_NO_STATS = (1 << 63) - 1  # Long.MaxValue: Spark's "no statistics" size
_BYTE_UNITS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20, "g": 30, "gb": 30,
               "t": 40, "tb": 40, "p": 50, "pb": 50}


def _broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1: off). Spark
    validates the value when it is set, so it always parses."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    m = re.fullmatch(r"(-?)(\d+)\s*([a-z]*)", raw)
    n = int(m.group(2)) << _BYTE_UNITS[m.group(3)]
    return -n if m.group(1) else n


def one_partition_if_small(df: DataFrame, name: str) -> DataFrame:
    """``df.coalesce(1)`` when the optimizer's size estimate of ``df`` is
    known and at most ``spark.sql.autoBroadcastJoinThreshold``; otherwise
    ``df`` unchanged.

    This is Spark's own broadcast rule, applied to planning: a relation
    that passes is one Spark would broadcast whole. ``SinglePartition``
    satisfies the distribution every aggregate, window and sort-merge
    join requires, so its plan needs no exchange, and a plan with no
    exchange runs as one job instead of one per shuffle map stage. The
    cost is that a join of two gated relations runs in one task, for
    inputs up to the threshold's size; a join with a larger relation
    broadcasts the gated side, as it would anyway. The threshold's own
    off value, -1, turns the gate off.

    Fails safe towards today's plan: Spark's "no statistics" sentinel
    (``Long.MaxValue``, e.g. a ``createDataFrame`` frame) counts as
    large, and so does a failed JVM call, which also warns and names
    ``name``. Unlike ``query.graph``'s persist gate, a wrong "small"
    here would put a large relation in one task.
    """
    threshold = _broadcast_threshold(df.sparkSession)
    if threshold < 0:
        return df
    try:
        size = int(str(jvm_plan(df, "optimizedPlan").stats().sizeInBytes()))
    except Py4JError as exc:
        warnings.warn(
            f"size estimate of {name} failed ({type(exc).__name__}: {exc}); "
            "it keeps its partitioned plan",
            RuntimeWarning,
            stacklevel=2,
        )
        return df
    return df.coalesce(1) if size < _NO_STATS and size <= threshold else df


# Filename convention of the daily dump feed:
# blockchair_<coin>_<type>_<YYYYMMDD>.tsv.gz
# (reference regex `download_blockchair_data.py:235`).
DUMP_FILENAME_RE = re.compile(r"blockchair_(\w+?)_(\w+)_(\d{8})\.tsv(\.gz)?$")


def parse_dump_filename(name: str) -> tuple[str, str, str] | None:
    """→ (coin, data_type, yyyymmdd) or None if not a dump file."""
    m = DUMP_FILENAME_RE.search(name)
    if not m:
        return None
    return m.group(1), m.group(2), m.group(3)


@dataclass
class LoadReport:
    """Outcome of a pattern-routed load (S4)."""

    loaded: list[str] = field(default_factory=list)
    skipped: list[tuple[str, str]] = field(default_factory=list)  # (file, error)


def _file_key(p: str) -> str:
    """Canonical local-path key for matching `input_file_name()` URIs
    (file:/..., percent-encoded) against caller-supplied paths."""
    if p.startswith("file:") or "://" in p:
        p = unquote(urlparse(p).path)
    return os.path.realpath(p)


def _find_bad_files(
    spark: SparkSession, routed: dict[str, list[str]], schemas: dict[str, StructType]
) -> dict[str, str]:
    """→ {path: reason} for files of ``routed`` ({table: paths}) with any
    unparseable row.

    ONE plan for every table's files: a PERMISSIVE scan per table with a
    corrupt-record column, the scans unioned and aggregated per
    `input_file_name()`. All files parse in parallel across executor
    threads — at 10k+ daily files this replaces 10k serial driver-side
    probe jobs, and at any file count it costs one scan-and-aggregate
    instead of one per table. When the files' on-disk bytes pass
    :func:`one_partition_if_small`, the union is read in one task and
    the per-file aggregate needs no shuffle: one job. If the batch scan
    itself dies (container-level failure — e.g. a truncated gzip aborts
    the whole job before row-level tolerance applies), fall back to
    per-file FAILFAST probes run concurrently, so one bad container
    still skips only itself.
    """
    routed = {t: paths for t, paths in routed.items() if paths}
    if not routed:
        return {}
    scans = []
    for table, paths in routed.items():
        schema = schemas[table]
        probe_schema = StructType(
            list(schema.fields) + [StructField("_corrupt_record", StringType())]
        )
        # The first data column must stay REFERENCED through the
        # aggregation (F.count below): Spark disallows scans whose only
        # referenced CSV column is the internal corrupt-record column,
        # and Catalyst's column pruning would otherwise strip a merely
        # selected column back out. The string cast lets tables whose
        # first columns differ in type share one union.
        scans.append(
            spark.read.option("sep", "\t")
            .option("header", "true")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .option("mode", "PERMISSIVE")
            .schema(probe_schema)
            .csv(paths)
            .select(
                F.input_file_name().alias("__file"),
                F.col(schema.fields[0].name).cast("string").alias("__c0"),
                F.col("_corrupt_record").isNotNull().cast("int").alias("__bad"),
            )
        )
    everything = [(p, schemas[t]) for t, paths in routed.items() for p in paths]
    try:
        union = one_partition_if_small(
            functools.reduce(DataFrame.unionByName, scans), "the corrupt-record scan"
        )
        bad_rows = (
            union.groupBy("__file")
            .agg(F.max("__bad").alias("__bad"), F.count("__c0").alias("__n"))
            .filter(F.col("__bad") == 1)
            .collect()
        )
        bad_keys = {_file_key(r["__file"]) for r in bad_rows}
        return {
            p: "malformed rows (corrupt-record scan)"
            for p, _ in everything
            if _file_key(p) in bad_keys
        }
    except Exception:  # noqa: BLE001 — container-level failure: isolate per file
        from concurrent.futures import ThreadPoolExecutor

        def probe(item: tuple[str, StructType]) -> tuple[str, str | None]:
            p, schema = item
            try:
                # the whole file, every column parsed: a file truncated
                # past its first rows must fail here, not in the load
                (
                    spark.read.option("sep", "\t")
                    .option("header", "true")
                    .option("mode", "FAILFAST")
                    .schema(schema)
                    .csv(p)
                    .agg(F.max(F.hash(*schema.names)))
                    .collect()
                )
                return p, None
            except Exception as e:  # noqa: BLE001 — any parse failure skips the file
                return p, str(e).splitlines()[0]

        with ThreadPoolExecutor(max_workers=8) as ex:
            return {p: err for p, err in ex.map(inheriting(spark, probe), everything) if err}


def load_with_pattern_routing(
    spark: SparkSession,
    files: list[str],
    table_patterns: dict[str, str],
    schemas: dict[str, StructType],
) -> tuple[dict[str, DataFrame], LoadReport]:
    """Route staged files to tables by filename pattern, skipping bad files.

    Semantics follow the reference's ``COPY INTO ... PATTERN=...
    ON_ERROR='skip_file'`` (`load_data_to_snowflake.sh:128-130`): a file
    whose contents fail to parse is skipped whole, the rest of the batch
    still loads. Validation is one batched corrupt-record scan over every
    table's files (see :func:`_find_bad_files`), never a per-file driver
    loop; the data path is then one clean multi-file scan per table.

    Each clean scan goes through :func:`one_partition_if_small` on its
    files' on-disk bytes, the size Spark's broadcast rule also reads. A
    day-size table is planned as one partition, so the stg views and
    the quality suite over it plan with no exchange; the cost is that a
    join of such tables runs in one task, for inputs up to
    ``spark.sql.autoBroadcastJoinThreshold``. Larger tables keep their
    split scan.
    """
    routed: dict[str, list[str]] = {t: [] for t in table_patterns}
    owner: dict[str, str] = {}
    for f in files:
        for table, pattern in table_patterns.items():
            if re.search(pattern, f):
                routed[table].append(f)
                owner[f] = table
                break

    bad = _find_bad_files(spark, routed, schemas)

    report = LoadReport()
    for f in files:
        if f not in owner:
            continue
        if f in bad:
            report.skipped.append((f, bad[f]))
        else:
            report.loaded.append(f)

    out: dict[str, DataFrame] = {}
    for table, paths in routed.items():
        good = [p for p in paths if p not in bad]
        if good:
            out[table] = one_partition_if_small(
                read_tsv(spark, good, schema=schemas[table]), table  # type: ignore[arg-type]
            )
    return out, report
