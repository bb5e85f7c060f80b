"""Source lint, standard library only (no JVM, well under a second): no
module in `sparktika/` binds the same top-level name twice. A second
`def`, `class` or assignment silently replaces the first for every
caller, so two copies can drift with only one of them live."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "sparktika"


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                            ast.Name):
            yield node.target.id, node.lineno


def test_no_module_defines_a_top_level_name_twice():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 50
    duplicates = []
    for path in modules:
        first: dict[str, int] = {}
        for name, line in _top_level_names(ast.parse(path.read_text(),
                                                     str(path))):
            if name in first:
                duplicates.append(f"{path.relative_to(PACKAGE.parent)}: "
                                  f"{name} at lines {first[name]} and {line}")
            else:
                first[name] = line
    assert not duplicates, "\n".join(duplicates)
