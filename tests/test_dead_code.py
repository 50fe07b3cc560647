"""Guard against dead code: every top-level function or class of the
package must be named somewhere else in the repo's Python files (tests
count as references), and every imported name must be used in the file
that imports it. A helper nothing calls is deleted, not kept."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_WORD = re.compile(r"\w+")


def _py_files() -> list[Path]:
    return [
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__"
                   for part in p.relative_to(ROOT).parts)
    ]


def test_every_package_definition_is_referenced():
    sources = {p: p.read_text(encoding="utf-8") for p in _py_files()}
    words = Counter()
    for src in sources.values():
        words.update(_WORD.findall(src))

    unreferenced = []
    for path in sorted((ROOT / "go_crawler_spark").rglob("*.py")):
        lines = sources[path].splitlines()
        for node in ast.parse(sources[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[first - 1:node.end_lineno])
            if words[node.name] == _WORD.findall(own).count(node.name):
                unreferenced.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unreferenced, "no reference outside the definition: " + ", ".join(
        unreferenced
    )


# the benchmark (perfbench/) is checked by its own suite
_IMPORT_SCOPE = ("go_crawler_spark", "tools", "tests",
                 "main.py", "bench.py", "__spark_entry__.py")


def _used_names(tree: ast.AST) -> set[str]:
    """Every name the module reads, string annotations included."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        ann = getattr(node, "annotation", None) or getattr(node, "returns", None)
        if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
            used |= {n.id for n in ast.walk(ast.parse(ann.value, mode="eval"))
                     if isinstance(n, ast.Name)}
    return used


def test_every_import_is_used():
    unused = []
    for path in sorted(_py_files()):
        rel = path.relative_to(ROOT)
        if rel.parts[0] not in _IMPORT_SCOPE or path.name == "__init__.py":
            continue
        src = path.read_text(encoding="utf-8")
        lines = src.splitlines()
        tree = ast.parse(src)
        used = _used_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            span = lines[node.lineno - 1:node.end_lineno]
            if any("noqa: F401" in line for line in span):
                continue
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in used:
                    unused.append(f"{rel}:{node.lineno} {name}")
    assert not unused, "imported but unused: " + ", ".join(unused)
