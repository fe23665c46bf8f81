"""Schema inference + widening ratchet (SURVEY §2 I1-I3)."""

import gzip
import re

import pandas as pd
import pytest

from blockchair_etl_spark.schema.inference import (
    DATE_FORMATS,
    DATETIME_MARKS,
    TIMESTAMP_FORMATS,
    ColumnType,
    SchemaRegistry,
    SchemaSkip,
    apply_ratchet,
    detect_datetime,
    emit_ddl,
    from_json,
    infer_from_pandas,
    infer_from_tsv,
    read_sample,
    sanitize_column_name,
    to_json,
    to_struct_type,
    varchar_tier,
)


def test_varchar_tiers():
    assert varchar_tier(None) == 64
    assert varchar_tier(1) == 16
    assert varchar_tier(16) == 16
    assert varchar_tier(17) == 32
    assert varchar_tier(300) == 512
    assert varchar_tier(10**9) == 262144  # capped at the top tier


def test_sanitize_column_names():
    assert sanitize_column_name("block id(v2)") == "BLOCK_ID_V2"
    assert sanitize_column_name("9lives") == "COL_9LIVES"
    assert sanitize_column_name("", 7) == "COL_7"
    assert sanitize_column_name("__x__") == "X"


def test_datetime_detection():
    assert detect_datetime(pd.Series(["2024-01-02", "2024-02-03"])) == ColumnType("date")
    assert detect_datetime(pd.Series(["2024-01-02 10:00:00"])) == ColumnType("timestamp")
    assert detect_datetime(pd.Series(["02-03-2024"])) == ColumnType("date")
    assert detect_datetime(pd.Series(["hello"])) is None
    assert detect_datetime(pd.Series([None, None])) is None
    # one value without a separator no format can parse: not a date
    assert detect_datetime(pd.Series(["2024-01-02", "20240103"])) is None


def test_every_datetime_format_holds_a_mark():
    """detect_datetime skips the format tries when a sample value holds
    no DATETIME_MARKS separator; that is sound only while every format
    holds one as a literal."""
    for fmt in DATE_FORMATS + TIMESTAMP_FORMATS:
        assert DATETIME_MARKS.search(re.sub("%.", "", fmt)), fmt


def test_decision_tree():
    df = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "rate": [1.5, 2.0, None],
            "flag": [True, False, True],
            "day": ["2024-01-01", "2024-01-02", "2024-01-03"],
            "name": ["a" * 20, "b", None],
            "empty": [None, None, None],
        }
    )
    got = dict(infer_from_pandas(df))
    assert got["ID"] == ColumnType("integer")
    assert got["RATE"] == ColumnType("float")
    assert got["FLAG"] == ColumnType("boolean")
    assert got["DAY"] == ColumnType("date")
    assert got["NAME"] == ColumnType("varchar", 32)
    assert got["EMPTY"] == ColumnType("varchar", 64)


def test_widening_ratchet():
    old = [("A", ColumnType("integer")), ("B", ColumnType("varchar", 32))]
    # wider on one, equal on other → accept
    new = [("A", ColumnType("float")), ("B", ColumnType("varchar", 32))]
    assert apply_ratchet(new, old) == new
    # narrower on any → skip
    with pytest.raises(SchemaSkip):
        apply_ratchet([("A", ColumnType("integer")), ("B", ColumnType("varchar", 16))], old)
    # all equal → skip
    with pytest.raises(SchemaSkip):
        apply_ratchet(old, old)
    # type mismatch → skip
    with pytest.raises(SchemaSkip):
        apply_ratchet([("A", ColumnType("varchar", 64)), ("B", ColumnType("varchar", 32))], old)
    # date → timestamp widens
    assert apply_ratchet(
        [("A", ColumnType("timestamp"))], [("A", ColumnType("date"))]
    ) == [("A", ColumnType("timestamp"))]
    # no stored schema / disjoint columns → accept
    assert apply_ratchet(new, None) == new
    assert apply_ratchet(new, [("Z", ColumnType("integer"))]) == new


def test_infer_from_tsv_via_spark(spark, tmp_path):
    from blockchair_etl_spark.io.extract import write_gzip_tsv

    p = write_gzip_tsv(
        tmp_path / "blockchair_bitcoin_blocks_20250812.tsv.gz",
        ["id", "hash", "time", "fee_rate", "note col!"],
        [
            [1, "a" * 64, "2025-08-12 00:00:00", 0.5, "x"],
            [2, "b" * 64, "2025-08-12 00:10:00", 1.5, None],
        ],
    )
    got = dict(infer_from_tsv(spark, str(p), sample_rows=100))
    assert got["ID"] == ColumnType("integer")
    assert got["HASH"] == ColumnType("varchar", 64)
    assert got["TIME"] == ColumnType("timestamp")
    assert got["FEE_RATE"] == ColumnType("float")
    assert got["NOTE_COL"] == ColumnType("varchar", 16)


def test_roundtrip_json_ddl_struct():
    schema = [("A", ColumnType("integer")), ("B", ColumnType("varchar", 128))]
    assert from_json(to_json(schema)) == schema
    ddl = emit_ddl("blocks_raw", schema)
    assert "CREATE OR REPLACE TABLE blocks_raw" in ddl
    assert "A BIGINT" in ddl and "B VARCHAR(128)" in ddl
    st = to_struct_type(schema)
    assert st.fieldNames() == ["A", "B"]
    assert st["B"].metadata == {"max_length": 128}
    with pytest.raises(ValueError):
        emit_ddl("9bad name", schema)


def test_registry_ratchet_persistence(tmp_path):
    path = str(tmp_path / "registry.json")
    reg = SchemaRegistry(path)
    s1 = [("A", ColumnType("integer"))]
    reg.update("t", s1)
    with pytest.raises(SchemaSkip):
        reg.update("t", s1)  # no widening
    s2 = [("A", ColumnType("float"))]
    reg.update("t", s2)
    # persisted: a fresh registry still enforces the ratchet
    reg2 = SchemaRegistry(path)
    assert reg2.get("t") == s2
    with pytest.raises(SchemaSkip):
        reg2.update("t", s1)


def _write_gz(path, text: str):
    with gzip.open(path, "wb") as f:
        f.write(text.encode("utf-8"))
    return str(path)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_infer_from_tsv_runs_one_job(spark, tmp_path):
    """The header row comes from the sample scan: no header-inference job
    (a header=true read runs two: header inference, then the scan)."""
    p = _write_gz(tmp_path / "t.tsv.gz", "id\tname\n1\ta\n2\tb\n")
    assert _jobs(spark, "infer-one-file", lambda: infer_from_tsv(spark, p)) == 1
    two = _jobs(spark, "header-true-scan", lambda: (
        spark.read.option("sep", "\t").option("header", "true").csv(p).limit(10).toPandas()))
    assert two == 2


HEADERS = {
    "plain": "id\tname\tfee",
    "case_duplicates": "id\tID\tid",
    "empty_name_and_duplicate": "id\t\tid",
    "trailing_empty_name": "id\tname\t",
    "leading_blank_lines": "\n  \n\r\nid\tname\tfee",
    # header=true takes this line for the header and drops the next one
    "tab_line_before_header": "\t\nid\tname\tfee",
    "control_line_before_header": " \x01\t \nid\tname\tfee",
    "bom": "\ufeffid\tname\tfee",
    "doubled_quote": 'id\t"c""d"\tfee',
    "quoted_tab": 'id\t"na\tme"\tfee',
}


@pytest.mark.parametrize("case_sensitive", ["false", "true"])
@pytest.mark.parametrize("shape", sorted(HEADERS))
def test_read_sample_matches_spark_header_true(spark, tmp_path, shape, case_sensitive):
    """Names and rows equal Spark's own header=true read of the file."""
    p = _write_gz(tmp_path / f"{shape}.tsv.gz", HEADERS[shape] + "\n1\tx\t0.5\n\n2\t\t1.5\n")
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", case_sensitive)
    try:
        want = spark.read.option("sep", "\t").option("header", "true").csv(p).toPandas()
        got = read_sample(spark, p, 100)
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)
    pd.testing.assert_frame_equal(got, want)


def test_infer_one_file_only(spark, tmp_path):
    p = _write_gz(tmp_path / "t.tsv.gz", "id\n1\n")
    with pytest.raises(ValueError, match="directory"):
        infer_from_tsv(spark, str(tmp_path))
    with pytest.raises(ValueError, match="glob"):
        infer_from_tsv(spark, str(tmp_path / "*.tsv.gz"))
    with pytest.raises(FileNotFoundError):
        infer_from_tsv(spark, str(tmp_path / "missing.tsv.gz"))
    assert infer_from_tsv(spark, p) == [("ID", ColumnType("integer"))]


def test_infer_empty_and_header_only_files(spark, tmp_path):
    assert infer_from_tsv(spark, _write_gz(tmp_path / "e.tsv.gz", "\n\n")) == []
    got = infer_from_tsv(spark, _write_gz(tmp_path / "h.tsv.gz", "a\tb\n"))
    assert got == [("A", ColumnType("varchar", 64)), ("B", ColumnType("varchar", 64))]


def test_integers_beyond_bigint_infer_as_float(spark, tmp_path):
    """pandas parses these to uint64 or float64; a BIGINT cannot hold
    them, so the column is a float (integer -> float widens)."""
    p = _write_gz(
        tmp_path / "big.tsv.gz",
        "over\thuge\tneg\tmax\tmin_null\n"
        "9223372036854775808\t99999999999999999999\t-9223372036854775809\t"
        "9223372036854775807\t-9223372036854775808\n"
        "1\t2\t3\t4\t\n",
    )
    got = dict(infer_from_tsv(spark, p))
    assert got == {
        "OVER": ColumnType("float"),
        "HUGE": ColumnType("float"),
        "NEG": ColumnType("float"),
        "MAX": ColumnType("integer"),
        "MIN_NULL": ColumnType("integer"),
    }
    assert apply_ratchet(list(got.items()), [("OVER", ColumnType("integer"))])
