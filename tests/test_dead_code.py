"""Dead-code guard: every top-level function and class of the package is
named somewhere other than its own definition.

A name counts as used when the identifier appears anywhere in the
package, the tests, the perf harness, the bench scripts or
``__spark_entry__.py``, outside the lines of its own definition
(decorators included). A ``@register`` query is reached through ``QUERIES``, so the
decorator counts as its use. Pure parsing, no Spark: a definition that
nothing calls, imports or tests fails here the day it loses its last
caller."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "blockchair_etl_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in node.decorator_list
    )


def _searched_files() -> list[Path]:
    dirs = ("blockchair_etl_spark", "tests", "perfbench")
    files = [p for d in dirs for p in (ROOT / d).rglob("*.py")]
    return files + sorted(ROOT.glob("bench*.py")) + [ROOT / "__spark_entry__.py"]


def test_every_top_level_definition_is_named_elsewhere():
    sources = {p: p.read_text() for p in _searched_files()}
    counts = Counter(m for text in sources.values() for m in _IDENT.findall(text))
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = sources[path]
        lines = text.splitlines()
        for node in ast.parse(text).body:
            defines = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if not defines or _registered(node):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[first - 1 : node.end_lineno])
            if counts[node.name] == Counter(_IDENT.findall(own))[node.name]:
                unused.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unused, f"top-level definitions nothing names: {unused}"
