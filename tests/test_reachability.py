"""Every top-level def of the listed library modules is referenced by the
code that runs: the library itself, the scripts, the repo benchmark or
`bench.py`. A def that only tests reach is an alternative kept "just in
case"; delete it, or wire it to a caller.

A reference is a name, an attribute or an import of the def's name
anywhere in those files, outside the def's own body. `MODULES` is the
list of modules held to this rule.

The same scan holds the library to one parquet reader: no batch
`.read.parquet(` call under `brooklin_spark/` outside `io.py`, except the
reads in `PARQUET_READ_ALLOWED`, each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

#: modules whose top-level defs must all be reachable
MODULES = [
    "brooklin_spark/checkpoint.py",
    "brooklin_spark/io.py",
    "brooklin_spark/operators/dedup.py",
    "brooklin_spark/queries/_sqlgen.py",
    "brooklin_spark/sources/pyds.py",
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


#: batch parquet reads allowed outside `io.py`: (file, enclosing top-level
#: def) -> why it cannot go through `io.read_parquet`
PARQUET_READ_ALLOWED = {
    ("brooklin_spark/queries/cdc.py", "cdc_schema_evolution_union"): (
        "reads with mergeSchema=true: merging the generations' footers is "
        "the schema evolution the query exercises"
    ),
}


def _is_batch_parquet_read(call: ast.Call) -> bool:
    """`<x>.read.parquet(...)`, also with options or a schema in between
    (`<x>.read.option(...).parquet(...)`); not `readStream` or `write`."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def bare_parquet_reads(path: Path) -> list[tuple[str, int]]:
    """(enclosing top-level def, line) of each batch parquet read in `path`."""
    out = []
    for top in ast.parse(path.read_text()).body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if isinstance(n, ast.Call) and _is_batch_parquet_read(n):
                out.append((owner, n.lineno))
    return out


def test_every_parquet_read_goes_through_the_one_reader():
    """A batch parquet read outside `io.read_parquet` infers its schema
    with a Spark job on every call; only the allow-listed reads may."""
    found = []
    for f in sorted((ROOT / "brooklin_spark").rglob("*.py")):
        rel = f.relative_to(ROOT).as_posix()
        if rel == "brooklin_spark/io.py":
            continue
        found += [
            f"{rel}:{line} ({owner})"
            for owner, line in bare_parquet_reads(f)
            if (rel, owner) not in PARQUET_READ_ALLOWED
        ]
    assert not found, f"use io.read_parquet instead of spark.read.parquet: {found}"


def test_the_allowed_parquet_reads_still_exist():
    """An allow-list entry whose read is gone must be deleted with it."""
    for (rel, owner), _why in PARQUET_READ_ALLOWED.items():
        owners = {o for o, _ in bare_parquet_reads(ROOT / rel)}
        assert owner in owners, f"{rel}: {owner} no longer reads parquet"
