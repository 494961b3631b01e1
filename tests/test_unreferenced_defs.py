"""Every top-level function, class and constant of the package is
referenced somewhere: by package code, a test, a tool or a script.

A reference is a use in code (a name, an attribute, an import, or an
identifier-shaped string such as a registry key); a mention in a
docstring or comment does not keep a definition alive. Definitions that
carry a decorator are exempt, because the decorator registers them.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "reviews_quality_check_spark"


def _repo_sources() -> list[Path]:
    return [
        p
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def _uses(tree: ast.AST) -> Counter:
    used: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used[node.value] += 1
    return used


def _top_level_names(tree: ast.Module) -> list[tuple[int, str]]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                out.append((node.lineno, node.name))
        elif isinstance(node, ast.Assign):
            out += [(node.lineno, t.id) for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            out.append((node.lineno, node.target.id))
    return [(ln, n) for ln, n in out if not n.startswith("__")]


def test_no_unreferenced_top_level_definitions():
    used: Counter = Counter()
    for path in _repo_sources():
        used += _uses(ast.parse(path.read_text(), str(path)))
    dead = [
        f"{path.relative_to(ROOT)}:{lineno} {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, name in _top_level_names(ast.parse(path.read_text(), str(path)))
        if not used[name]
    ]
    assert not dead, "referenced by no .py file in the repo:\n" + "\n".join(dead)
