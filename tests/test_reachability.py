"""Every top-level def of the listed library modules is referenced by the
code that runs: the library itself, the scripts, the repo benchmark or
`bench.py`. A def that only tests reach is an alternative kept "just in
case"; delete it, or wire it to a caller.

A reference is a name, an attribute or an import of the def's name
anywhere in those files, outside the def's own body. `MODULES` is the
list of modules held to this rule.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

#: modules whose top-level defs must all be reachable
MODULES = [
    "brooklin_spark/operators/dedup.py",
    "brooklin_spark/queries/_sqlgen.py",
]

#: where a reference counts: everything that runs outside the tests
_CALLER_DIRS = ["brooklin_spark", "scripts", "perfbench"]
_CALLER_FILES = ["bench.py"]


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _caller_files() -> list[Path]:
    files = [p for d in _CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    return files + [ROOT / f for f in _CALLER_FILES]


def _defs(tree: ast.Module) -> list[ast.AST]:
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [n for n in tree.body if isinstance(n, kinds)]


def unreferenced_defs(module: str) -> list[str]:
    """Top-level defs of `module` with no reference outside their own body."""
    path = ROOT / module
    tree = ast.parse(path.read_text())
    # names used anywhere outside the module, and per top-level node inside it
    outside: set[str] = set()
    for f in _caller_files():
        if f != path:
            outside |= _names(ast.parse(f.read_text()))
    inside = [(node, _names(node)) for node in tree.body]
    dead = []
    for d in _defs(tree):
        if d.name in outside:
            continue
        if any(d.name in names for node, names in inside if node is not d):
            continue
        dead.append(d.name)
    return dead


@pytest.mark.parametrize("module", MODULES)
def test_every_def_is_reached(module):
    dead = unreferenced_defs(module)
    assert not dead, f"{module}: no caller outside tests for {dead}"
