"""Guard against dead code: every top-level function or class of the
package must be named somewhere else in the repo's Python files (tests
count as references). A helper nothing calls is deleted, not kept."""

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
