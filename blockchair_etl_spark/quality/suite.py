"""Declarative (dbt schema.yml-shaped) data-quality suite runner.

The reference declares its tests in YAML (`transaction_tracing/models/
staged/schema.yml:1-78`) and `dbt build` compiles them to zero-row
SELECTs. This module is that layer for the Spark engine: the SAME
config shape — `models[].columns[].tests[]` with `unique`, `not_null`,
`accepted_values`, `relationships`, plus model-level
`unique_combination_of_columns` — parsed into the executable checks of
quality/checks.py.

Execution model: `run_config_suite` renders the whole suite as ONE SQL
statement, a UNION ALL with one single-row count per check over that
check kind's fragment, so the suite runs as one Spark action, not one
count() per check. `quality.checks.run_checks` (the reference suite the
DAG runs) is a thin adapter over it. One action is not one pass: no
scan is shared. Each check is its own branch of the union and plans its
own scan of its model. How many jobs that action runs depends on the
size gate of ``io.sources.one_partition_if_small``:

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
free elsewhere). Model and column names are quoted as identifiers and
the report's strings bound as parameters (see quality/checks.py).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame

from .checks import CheckSpec, Statement


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


def run_config_suite(
    tables: dict[str, DataFrame], config_or_specs
) -> DataFrame:
    """→ one relation (model, column, test, n_violations, passed),
    a single UNION ALL statement: one Spark action for the suite, in
    which each check scans its model on its own."""
    specs = (
        config_or_specs
        if isinstance(config_or_specs, list)
        else parse_suite(config_or_specs)
    )
    if not specs:
        raise ValueError("empty test suite")
    st = Statement(tables)
    return st.run(
        "\nUNION ALL\n".join(
            f"SELECT {st.bind(s.model)} AS model, {st.bind(s.column)} AS `column`, "
            f"{st.bind(s.test)} AS test, n_violations, n_violations = 0 AS passed "
            f"FROM (SELECT COUNT(1) AS n_violations FROM ({st.violations(s)}))"
            for s in specs
        )
    )
