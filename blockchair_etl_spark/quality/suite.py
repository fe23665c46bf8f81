"""Declarative (dbt schema.yml-shaped) data-quality suite runner.

The reference declares its tests in YAML (`transaction_tracing/models/
staged/schema.yml:1-78`) and `dbt build` compiles them to zero-row
SELECTs. This module is that layer for the Spark engine: the SAME
config shape — `models[].columns[].tests[]` with `unique`, `not_null`,
`accepted_values`, `relationships`, plus model-level
`unique_combination_of_columns` — parsed into the executable checks of
quality/checks.py.

Execution model: `run_config_suite` builds ONE report relation — every
check becomes a single-row count aggregate and the rows are unioned —
so the whole suite runs as one Spark action, not one count() per check.
`quality.checks.run_checks` (the reference suite the DAG runs) is a
thin adapter over it. One action is not one pass: no scan is shared.
Each check is its own branch of the union and plans its own scan of its
model. How many jobs that action runs depends on the size gate of
``io.sources.one_partition_if_small``:

- inputs above ``spark.sql.autoBroadcastJoinThreshold`` (or the gate
  off): each check plans up to two shuffles (its group-by or distinct,
  then its count), and under AQE each shuffle map stage is a job of its
  own; the reference suite runs 16 jobs on a daily build with the
  threshold at -1;
- day-size inputs loaded through the gate are one partition, which
  every check's grouping already satisfies: no check plans an exchange
  and the whole suite runs as one job.

Config sources: a Python dict, a JSON file, or a YAML file (PyYAML is
present in this environment; the JSON path keeps the loader dependency-
free elsewhere).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from .checks import (
    accepted_values_violations,
    not_null_violations,
    relationship_violations,
    unique_combination_violations,
    unique_violations,
)


@dataclass(frozen=True)
class CheckSpec:
    model: str
    column: str  # "" for model-level tests
    test: str
    params: tuple  # hashable parameter payload


def parse_suite(config: dict) -> list[CheckSpec]:
    """dbt-schema-shaped dict → flat check list (validated)."""
    specs: list[CheckSpec] = []
    for model in config.get("models", []):
        mname = model["name"]
        for col in model.get("columns", []):
            cname = col["name"]
            for t in col.get("tests", []):
                if isinstance(t, str):
                    if t not in ("unique", "not_null"):
                        raise ValueError(f"unknown test {t!r} on {mname}.{cname}")
                    specs.append(CheckSpec(mname, cname, t, ()))
                elif "accepted_values" in t:
                    vals = tuple(t["accepted_values"]["values"])
                    specs.append(CheckSpec(mname, cname, "accepted_values", vals))
                elif "relationships" in t:
                    r = t["relationships"]
                    specs.append(
                        CheckSpec(mname, cname, "relationships", (r["to"], r["field"]))
                    )
                else:
                    raise ValueError(f"unknown test {t!r} on {mname}.{cname}")
        for t in model.get("tests", []):
            if "unique_combination_of_columns" in t:
                combo = tuple(t["unique_combination_of_columns"]["combination"])
                specs.append(
                    CheckSpec(mname, "", "unique_combination_of_columns", combo)
                )
            else:
                raise ValueError(f"unknown model-level test {t!r} on {mname}")
    return specs


def load_suite(path: str | Path) -> list[CheckSpec]:
    """Parse a schema.yml / schema.json file."""
    text = Path(path).read_text()
    if str(path).endswith((".yml", ".yaml")):
        import yaml  # optional dependency; JSON needs nothing

        return parse_suite(yaml.safe_load(text))
    return parse_suite(json.loads(text))


def _violations(spec: CheckSpec, tables: dict[str, DataFrame]) -> DataFrame:
    df = tables[spec.model]
    if spec.test == "unique":
        return unique_violations(df, spec.column)
    if spec.test == "not_null":
        return not_null_violations(df, spec.column)
    if spec.test == "accepted_values":
        return accepted_values_violations(df, spec.column, list(spec.params))
    if spec.test == "relationships":
        to, field = spec.params
        return relationship_violations(df, spec.column, tables[to], field)
    return unique_combination_violations(df, list(spec.params))


def run_config_suite(
    tables: dict[str, DataFrame], config_or_specs
) -> DataFrame:
    """→ one relation (model, column, test, n_violations, passed),
    a single UNION-of-aggregates plan: one Spark action for the suite,
    in which each check scans its model on its own."""
    specs = (
        config_or_specs
        if isinstance(config_or_specs, list)
        else parse_suite(config_or_specs)
    )
    if not specs:
        raise ValueError("empty test suite")
    rows = []
    for s in specs:
        missing = s.model not in tables or (
            s.test == "relationships" and s.params[0] not in tables
        )
        if missing:
            raise KeyError(f"model {s.model!r} (or its relationship target) not provided")
        cnt = _violations(s, tables).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations")
        )
        rows.append(
            cnt.select(
                F.lit(s.model).alias("model"),
                F.lit(s.column).alias("column"),
                F.lit(s.test).alias("test"),
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
