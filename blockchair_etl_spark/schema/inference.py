"""Sample-based schema inference with a widen-only evolution ratchet.

Re-expresses the reference's inference subsystem
(`scripts/python/generate_snowflake_ddl.py`: decision tree :334-405,
date detection :196-218, varchar tier walk :177-193, widening ratchet
:261-331, DDL emit/parse :221-258,408-432; tier/format config
`config/ddl_config.json`) with a typed model instead of DDL strings:

- Sampling runs through Spark (`limit(n)` over the TSV scan → Arrow →
  pandas), so the sample path scales to files of any size and any
  storage — only ≤n rows ever reach the driver. Each call infers one
  file in one Spark job: the driver reads only the file's header line,
  to count its fields, and the sample scan returns the header row
  itself, parsed by Spark's CSV reader, as its first row.
- Column types are a small algebra (`ColumnType`) with an explicit
  widening partial order; the ratchet replaces a stored schema only if
  the new one is wider on ≥1 column and narrower on none.
- Persistence is JSON (the schema registry), with Spark `StructType`
  and `CREATE TABLE` DDL emitted from the same model.

Decision tree per column, matching the reference's semantics:
date/timestamp format match (DATE iff the format has no time part) →
all-null → VARCHAR(default 64) → integer → float → boolean →
VARCHAR(smallest tier ≥ max observed length). An integer column whose
values do not fit a BIGINT is a float. Parses that cannot succeed are
skipped, never changing the result.
"""

from __future__ import annotations

import csv
import json
import re
from dataclasses import dataclass

import pandas as pd
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEFAULT_STRING_LENGTH = 64
VARCHAR_TIERS = [
    16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192,
    16384, 32768, 65536, 131072, 262144,
]
DATE_FORMATS = ["%Y-%m-%d", "%Y/%m/%d", "%d-%m-%Y"]
TIMESTAMP_FORMATS = ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S.%f"]
# Every format holds one of these separators as a literal, so a value
# with none of them cannot parse.
DATETIME_MARKS = re.compile("[-/]")
# What Java's String.trim strips: Spark's CSV scan skips lines it empties.
JAVA_TRIM = "".join(map(chr, range(33)))
MAX_VARCHAR = 16_777_216  # length of an unbounded VARCHAR for ordering


@dataclass(frozen=True)
class ColumnType:
    """One inferred type: kind ∈ {integer, float, boolean, date,
    timestamp, varchar}; length set only for varchar."""

    kind: str
    length: int | None = None

    def widens(self, old: "ColumnType") -> bool | None:
        """True if self is strictly wider than old, False if equal,
        None if incomparable (narrower or mismatched kinds)."""
        if self == old:
            return False
        if self.kind == "varchar" and old.kind == "varchar":
            new_len = self.length or MAX_VARCHAR
            old_len = old.length or MAX_VARCHAR
            if new_len > old_len:
                return True
            return False if new_len == old_len else None
        if old.kind == "integer" and self.kind == "float":
            return True
        if old.kind == "date" and self.kind == "timestamp":
            return True
        return None

    def to_spark(self) -> DataType:
        return {
            "integer": LongType(),
            "float": DoubleType(),
            "boolean": BooleanType(),
            "date": DateType(),
            "timestamp": TimestampType(),
            "varchar": StringType(),
        }[self.kind]

    def ddl(self) -> str:
        if self.kind == "varchar":
            return f"VARCHAR({self.length})" if self.length else "VARCHAR"
        return {"integer": "BIGINT", "float": "DOUBLE"}.get(self.kind, self.kind.upper())


Schema = list[tuple[str, ColumnType]]


def sanitize_column_name(name: str, position: int = 0) -> str:
    """Non-alphanumerics → '_', uppercase, strip edge '_', prefix COL_
    when the result is empty or starts with a non-letter
    (generate_snowflake_ddl.py:375-377)."""
    out = re.sub(r"[^a-zA-Z0-9]", "_", name).upper().strip("_")
    if not out:
        return f"COL_{position}"
    if not out[0].isalpha():
        return f"COL_{out}"
    return out


def varchar_tier(max_length: int | None) -> int:
    if max_length is None:
        return DEFAULT_STRING_LENGTH
    for tier in VARCHAR_TIERS:
        if max_length <= tier:
            return tier
    return VARCHAR_TIERS[-1]


def detect_datetime(series: pd.Series) -> ColumnType | None:
    """First matching format wins; DATE iff the format carries no
    hour/minute directive (generate_snowflake_ddl.py:196-218)."""
    sample = series.dropna().head(100).astype(str)
    if sample.empty:
        return None
    if not all(map(DATETIME_MARKS.search, sample)):
        return None
    for fmt in DATE_FORMATS + TIMESTAMP_FORMATS:
        try:
            pd.to_datetime(sample, format=fmt, errors="raise")
        except (ValueError, TypeError):
            continue
        is_date = "H" not in fmt and "M" not in fmt.replace("%m", "")
        return ColumnType("date" if is_date else "timestamp")
    return None


def infer_from_pandas(df: pd.DataFrame) -> Schema:
    """The per-column decision tree over a driver-side sample frame."""
    schema: Schema = []
    for pos, (col, s) in enumerate(df.items()):
        name = sanitize_column_name(str(col), pos)
        values = s.dropna()
        dt = detect_datetime(values.head(100))
        if dt is not None:
            ct = dt
        elif values.empty:
            ct = ColumnType("varchar", DEFAULT_STRING_LENGTH)
        elif pd.api.types.is_integer_dtype(s.dtype):
            ct = ColumnType("integer")
        elif pd.api.types.is_float_dtype(s.dtype):
            ct = ColumnType("float")
        elif pd.api.types.is_bool_dtype(s.dtype):
            ct = ColumnType("boolean")
        else:
            ct = ColumnType("varchar", varchar_tier(max(map(len, values.astype(str)))))
        schema.append((name, ct))
    return schema


def _safe_header(row: list[str | None], case_sensitive: bool) -> list[str]:
    """Column names from a parsed header row, as Spark's CSV source makes
    them (``CSVDataSource.makeSafeHeader``): a null or empty name becomes
    ``_c{i}``, and each duplicated name gets its position appended;
    duplicates are compared case-insensitively unless case_sensitive."""
    key = (lambda v: v) if case_sensitive else str.lower
    seen = [key(v) for v in row if v]
    dups = {k for k in seen if seen.count(k) > 1}
    return [
        f"_c{i}" if not v else f"{v}{i}" if key(v) in dups else v
        for i, v in enumerate(row)
    ]


def _header_line(spark: SparkSession, path: str) -> str | None:
    """The line of one file that Spark's ``header=true`` takes for the
    header, the first that is not all spaces, read on the driver through
    Hadoop's FileSystem and codec factory: any storage and compression
    Spark reads, and no Spark job."""
    if re.search(r"[*?\[{]", path):
        raise ValueError(f"expected one file, not a glob: {path}")
    client = spark.sparkContext._gateway._gateway_client

    def new(cls: str, *args):
        # a JavaClass by its full name costs no lookup round trip per package
        return JavaClass(cls, client)(*args)

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = new("org.apache.hadoop.fs.Path", path)
    fs = hpath.getFileSystem(conf)
    try:
        status = fs.getFileStatus(hpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        raise FileNotFoundError(path) from e
    if status.isDirectory():
        raise ValueError(f"expected one file, not a directory: {path}")
    stream = fs.open(hpath)
    codec = new("org.apache.hadoop.io.compress.CompressionCodecFactory", conf).getCodec(hpath)
    if codec is not None:
        stream = codec.createInputStream(stream)
    reader = new("java.io.BufferedReader", new("java.io.InputStreamReader", stream, "UTF-8"))
    try:
        while (line := reader.readLine()) is not None:
            if line.strip(" "):
                return line
        return None
    finally:
        reader.close()


def _narrowest(s: pd.Series) -> pd.Series:
    """A string sample column re-parsed to the narrowest dtype, so the
    dtype checks of the decision tree behave like the reference's
    pd.read_csv; a column with a value that does not parse stays as is."""
    values = s.dropna()
    if values.empty or pd.isna(pd.to_numeric(values.iat[0], errors="coerce")):
        return s
    parsed = pd.to_numeric(values, errors="coerce")
    if parsed.isna().any():
        return s
    if not pd.api.types.is_integer_dtype(parsed.dtype) and (
        not (parsed % 1 == 0).all() or values.str.contains(r"[.eE]").any()
    ):
        return parsed.reindex(s.index)
    if parsed.min() < -(2**63) or parsed.max() >= 2**63:
        parsed = parsed.astype("float64")  # beyond BIGINT: integer → float widens
    else:
        parsed = parsed.astype("Int64")
    return parsed.reindex(s.index)


def read_sample(spark: SparkSession, path: str, sample_rows: int) -> pd.DataFrame:
    """≤sample_rows rows of one TSV file (a directory or a glob raises
    ValueError) as strings, named by its header, in one Spark job.

    The driver reads only the header line, to count its fields. The
    scan reads that many string columns with no header, so its first row
    is the header as Spark's CSV parser reads it (a BOM stripped, quotes
    and escapes as Spark treats them); the names come from that row, made
    safe as Spark's ``header=true`` makes them. The scan skips every line
    Java's trim empties, so a header line of tabs and control characters
    is not its first row: that row is then the line ``header=true`` drops
    from the data, and the names come from the header line's fields."""
    header = _header_line(spark, path)
    if header is None:
        return pd.DataFrame()
    fields = next(csv.reader([header.removeprefix("\ufeff")], delimiter="\t", quotechar='"'))
    table = (
        spark.read.option("sep", "\t")
        .option("header", "false")
        .schema(", ".join(f"_c{i} STRING" for i in range(len(fields))))
        .csv(path)
        .limit(sample_rows + 1)
        .toArrow()
    )
    row0 = [c[0].as_py() for c in table.columns] if header.strip(JAVA_TRIM) else fields
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    sample = table.slice(1).to_pandas()
    sample.columns = _safe_header(row0, case_sensitive)
    return sample


def infer_from_tsv(
    spark: SparkSession, path: str, sample_rows: int = 1_000_000
) -> Schema:
    """Infer the schema of one TSV file from its header and ≤sample_rows
    rows, sampled by :func:`read_sample` in one Spark job. The sample is
    all strings: the decision tree, not the CSV parser, assigns types."""
    sample = read_sample(spark, path, sample_rows)
    for i in range(sample.shape[1]):
        sample.isetitem(i, _narrowest(sample.iloc[:, i]))
    return infer_from_pandas(sample)


class SchemaSkip(Exception):
    """New schema is not a strict widening — keep the stored one
    (the reference signals this via SchemaSkipError + nonzero exit)."""


def apply_ratchet(new: Schema, old: Schema | None) -> Schema:
    """Widen-only evolution (compare_schemas, :261-331): keep old unless
    new is wider on some common column and narrower/mismatched on none.
    No stored schema, or no common columns → accept new."""
    if not old:
        return new
    old_d = dict(old)
    new_d = dict(new)
    common = set(old_d) & set(new_d)
    if not common:
        return new
    widened = False
    for col in common:
        w = new_d[col].widens(old_d[col])
        if w is None:
            raise SchemaSkip(f"column {col}: {new_d[col]} does not widen {old_d[col]}")
        widened = widened or w
    if not widened:
        raise SchemaSkip("all common column types equal — keeping stored schema")
    return new


def to_struct_type(schema: Schema) -> StructType:
    return StructType(
        [
            StructField(
                name,
                ct.to_spark(),
                True,
                metadata={"max_length": ct.length} if ct.kind == "varchar" else {},
            )
            for name, ct in schema
        ]
    )


def emit_ddl(table: str, schema: Schema) -> str:
    if not re.match(r"^[a-zA-Z][a-zA-Z0-9_]*$", table):
        raise ValueError(f"invalid table name: {table}")
    cols = ",\n    ".join(f"{name} {ct.ddl()}" for name, ct in schema)
    return f"CREATE OR REPLACE TABLE {table} (\n    {cols}\n) USING parquet;"


def to_json(schema: Schema) -> str:
    return json.dumps(
        [{"name": n, "kind": c.kind, "length": c.length} for n, c in schema]
    )


def from_json(text: str) -> Schema:
    return [
        (d["name"], ColumnType(d["kind"], d.get("length"))) for d in json.loads(text)
    ]


class SchemaRegistry:
    """JSON-file-backed registry applying the ratchet on every update
    (the reference's --output-schema-json + compare flow, :522-528)."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self._schemas: dict[str, Schema] = {
                    t: from_json(json.dumps(s)) for t, s in json.load(f).items()
                }
        except FileNotFoundError:
            self._schemas = {}

    def get(self, table: str) -> Schema | None:
        return self._schemas.get(table)

    def update(self, table: str, new: Schema) -> Schema:
        accepted = apply_ratchet(new, self._schemas.get(table))
        self._schemas[table] = accepted
        self._save()
        return accepted

    def _save(self) -> None:
        with open(self.path, "w") as f:
            json.dump(
                {
                    t: [{"name": n, "kind": c.kind, "length": c.length} for n, c in s]
                    for t, s in self._schemas.items()
                },
                f,
                indent=2,
            )
