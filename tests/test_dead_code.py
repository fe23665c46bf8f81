"""Dead-code guard: every top-level function and class of the package is
named somewhere other than its own definition.

A name counts as used when the identifier appears in code anywhere in
the package, the tests, the perf harness, the bench scripts or
``__spark_entry__.py``, outside the lines of its own definition
(decorators included). Comments and docstrings do not count, since a
name mentioned only in prose has no caller; other string literals do,
because SQL helpers are called inside f-strings. A ``@register`` query
is reached through ``QUERIES``, so the decorator counts as its use.
Pure parsing, no Spark: a definition that nothing calls, imports or
tests fails here the day it loses its last caller."""

import ast
import io
import re
import tokenize
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


def _code_idents(text: str, tree: ast.AST) -> list[tuple[int, str]]:
    """(line, identifier) for every identifier in ``text`` outside its
    comments and docstrings."""
    docstrings = {
        (node.body[0].lineno, node.body[0].col_offset)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and ast.get_docstring(node, clean=False) is not None
    }
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.COMMENT:
            continue
        if tok.type == tokenize.STRING and tok.start in docstrings:
            continue
        out.extend((tok.start[0], m) for m in _IDENT.findall(tok.string))
    return out


def test_every_top_level_definition_is_named_elsewhere():
    trees = {p: ast.parse(p.read_text()) for p in _searched_files()}
    idents = {p: _code_idents(p.read_text(), tree) for p, tree in trees.items()}
    counts = Counter(name for found in idents.values() for _, name in found)
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in trees[path].body:
            defines = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if not defines or _registered(node):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = sum(
                1
                for line, name in idents[path]
                if name == node.name and first <= line <= node.end_lineno
            )
            if counts[node.name] == own:
                unused.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unused, f"top-level definitions nothing names: {unused}"
