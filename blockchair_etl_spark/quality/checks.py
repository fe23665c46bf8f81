"""Data-quality assertions — the reference's dbt schema tests as
executable zero-row checks.

Reference: `transaction_tracing/models/staged/schema.yml:1-78` (`unique`,
`not_null`, `dbt_utils.unique_combination_of_columns`) run by `dbt build`
as SELECTs expecting zero rows. Same contract here: each check kind is
one SQL fragment, a SELECT of the violating rows. Each `*_violations`
function runs its kind's fragment as one ``spark.sql`` statement, and
quality/suite.py unions the fragments of a whole suite into another;
`run_checks` evaluates the reference suite through that one-action
runner and reports.

Model and column names in a fragment come from outside the program (a
schema.yml), so each is backtick-quoted and every value is bound as a
named parameter, never written into the text.

`unique` and the combination check are grouped counts: above the size
gate (``io.sources.one_partition_if_small``) each shuffles once on its
key; on a day-size input the gate has made one partition, so each runs
in the scan's task with no shuffle. `not_null` is a scan-only filter
with the predicate pushed to parquet on either side.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class CheckSpec:
    model: str
    column: str  # "" for model-level tests
    test: str
    params: tuple  # hashable parameter payload


def _quote(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted with inner backticks
    doubled, and braces doubled for the ``str.format`` pass that
    ``spark.sql(text, **frames)`` makes over the text."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


class Statement:
    """The placeholders of one ``spark.sql`` call: ``ref`` names a
    model's frame ``{tN}`` (a temp view that lives until the statement is
    analyzed) and ``bind`` names a value ``:vN``, a parameter of the call.
    Equal values share one parameter: each costs the driver a JVM call."""

    def __init__(self, tables: dict[str, DataFrame]):
        self.tables = tables
        self.frames: dict[str, DataFrame] = {}
        self.params: dict[tuple[type, Any], str] = {}

    def ref(self, model: str) -> str:
        if model not in self.tables:
            raise KeyError(f"model {model!r} not provided")
        key = f"t{list(self.tables).index(model)}"
        self.frames[key] = self.tables[model]
        return "{" + key + "}"

    def bind(self, value: Any) -> str:
        # keyed on the type too: 1, 1.0 and True are equal but bind differently
        return ":" + self.params.setdefault((type(value), value), f"v{len(self.params)}")

    def violations(self, spec: CheckSpec) -> str:
        """The SELECT of ``spec``'s violating rows."""
        if spec.test not in _FRAGMENTS:
            raise ValueError(f"unknown test kind in {spec}")
        return _FRAGMENTS[spec.test](self, spec)

    def run(self, text: str) -> DataFrame:
        spark = next(iter(self.frames.values())).sparkSession
        args = {name: value for (_, value), name in self.params.items()}
        return spark.sql(text, args or None, **self.frames)


def _unique(st: Statement, s: CheckSpec) -> str:
    c = _quote(s.column)
    return (
        f"SELECT {c}, COUNT(1) AS n FROM {st.ref(s.model)} "
        f"WHERE {c} IS NOT NULL GROUP BY {c} HAVING COUNT(1) > 1"
    )


def _not_null(st: Statement, s: CheckSpec) -> str:
    return f"SELECT * FROM {st.ref(s.model)} WHERE {_quote(s.column)} IS NULL"


def _unique_combination(st: Statement, s: CheckSpec) -> str:
    cols = ", ".join(map(_quote, s.params))
    return (
        f"SELECT {cols}, COUNT(1) AS n FROM {st.ref(s.model)} "
        f"GROUP BY {cols} HAVING COUNT(1) > 1"
    )


def _accepted_values(st: Statement, s: CheckSpec) -> str:
    c = _quote(s.column)
    # SQL has no empty IN list; with no accepted value every non-null row violates
    outside = f" AND {c} NOT IN ({', '.join(map(st.bind, s.params))})" if s.params else ""
    return f"SELECT * FROM {st.ref(s.model)} WHERE {c} IS NOT NULL{outside}"


def _relationships(st: Statement, s: CheckSpec) -> str:
    to, field = s.params
    c = _quote(s.column)
    return (
        f"SELECT c.* FROM {st.ref(s.model)} c LEFT ANTI JOIN "
        f"(SELECT DISTINCT {_quote(field)} AS __parent_key FROM {st.ref(to)}) p "
        f"ON c.{c} = p.__parent_key WHERE c.{c} IS NOT NULL"
    )


_FRAGMENTS = {
    "unique": _unique,
    "not_null": _not_null,
    "unique_combination_of_columns": _unique_combination,
    "accepted_values": _accepted_values,
    "relationships": _relationships,
}


def _check(spec: CheckSpec, tables: dict[str, DataFrame]) -> DataFrame:
    st = Statement(tables)
    return st.run(st.violations(spec))


def unique_violations(df: DataFrame, column: str) -> DataFrame:
    """dbt `unique` (schema.yml:9-11 etc.): keys appearing more than once."""
    return _check(CheckSpec("t", column, "unique", ()), {"t": df})


def not_null_violations(df: DataFrame, column: str) -> DataFrame:
    """dbt `not_null` (schema.yml:9-11 etc.): rows with a null key."""
    return _check(CheckSpec("t", column, "not_null", ()), {"t": df})


def unique_combination_violations(df: DataFrame, columns: list[str]) -> DataFrame:
    """dbt_utils.unique_combination_of_columns (schema.yml:16-18,33-35,
    76-78): duplicate composite keys."""
    spec = CheckSpec("t", "", "unique_combination_of_columns", tuple(columns))
    return _check(spec, {"t": df})


def accepted_values_violations(df: DataFrame, column: str, values: list) -> DataFrame:
    """dbt `accepted_values`: non-null rows whose value is outside the
    allowed set. Scan-only — the IN predicate pushes down to parquet."""
    return _check(CheckSpec("t", column, "accepted_values", tuple(values)), {"t": df})


def relationship_violations(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """dbt `relationships` (referential integrity): child keys with no
    matching parent row. The parent side is reduced to its distinct keys
    first, so when the parent is dim-sized the anti join broadcasts; at
    fact-fact scale it degrades to one shuffle on the key."""
    spec = CheckSpec("child", child_key, "relationships", ("parent", parent_key))
    return _check(spec, {"child": child, "parent": parent})


@dataclass
class CheckResult:
    name: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


# The reference's declared test suite, staged layer (schema.yml):
#   stg_addresses.address: unique + not_null; combo [address]
#   stg_blocks.block_id: unique + not_null; combo [block_id, block_hash]
#   stg_inputs/stg_outputs.transaction_hash: not_null
#   stg_transactions.transaction_hash: unique + not_null;
#     combo [transaction_hash, block_id]
REFERENCE_SUITE = [
    ("stg_addresses", "unique", "address"),
    ("stg_addresses", "not_null", "address"),
    ("stg_addresses", "combo", ["address"]),
    ("stg_blocks", "unique", "block_id"),
    ("stg_blocks", "not_null", "block_id"),
    ("stg_blocks", "combo", ["block_id", "block_hash"]),
    ("stg_inputs", "not_null", "transaction_hash"),
    ("stg_outputs", "not_null", "transaction_hash"),
    ("stg_transactions", "unique", "transaction_hash"),
    ("stg_transactions", "not_null", "transaction_hash"),
    ("stg_transactions", "combo", ["transaction_hash", "block_id"]),
]


def run_checks(
    tables: dict[str, DataFrame],
    suite: list[tuple] = REFERENCE_SUITE,
) -> list[CheckResult]:
    """Evaluate a test suite as one Spark action; checks on tables not
    in ``tables`` are skipped. Results keep the suite's order."""
    from .suite import run_config_suite  # suite.py imports this module

    names, specs = [], []
    for table, kind, cols in suite:
        if table not in tables:
            continue
        names.append(f"{table}.{kind}.{cols}")
        if kind in ("unique", "not_null"):
            specs.append(CheckSpec(table, cols, kind, ()))
        else:
            combo = tuple(cols) if isinstance(cols, (list, tuple)) else (cols,)
            specs.append(CheckSpec(table, "", "unique_combination_of_columns", combo))
    if not specs:
        return []
    rows = run_config_suite(tables, specs).collect()
    return [CheckResult(name=n, violations=r["n_violations"]) for n, r in zip(names, rows)]
