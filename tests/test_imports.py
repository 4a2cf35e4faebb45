"""Import smoke test: every library and bench module, and the bench scripts.

Most bench modules are only ever run as scripts, so a dangling import left
behind by a deleted module would otherwise surface only when someone runs
that script by hand.

Also a dead-definition guard: every top-level function and class in the
package must be referenced from somewhere outside its own definition.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pkgutil
from collections import Counter
from pathlib import Path

import pytest

import bench
import immich_geodata_zh_tw_spark

REPO = Path(__file__).resolve().parents[1]


def _modules(pkg) -> list[str]:
    return [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]


@pytest.mark.parametrize(
    "name", _modules(immich_geodata_zh_tw_spark) + _modules(bench))
def test_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("script", ["bench.py", "bench_extra.py"])
def test_script_imports(script):
    # runs only the top level: both scripts guard their work behind __main__
    spec = importlib.util.spec_from_file_location(
        "_smoke_" + script[:-3], REPO / script)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


# every file whose names count as a use of a package definition
_REF_DIRS = ["immich_geodata_zh_tw_spark", "bench", "perfbench", "tools", "tests"]
_REF_FILES = ["bench.py", "bench_extra.py", "__spark_entry__.py"]


def _names(tree: ast.AST) -> Counter:
    """Identifier uses: names, attribute names and imported names.  Strings
    (docstrings included) are not uses."""
    seen: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            seen[node.id] += 1
        elif isinstance(node, ast.Attribute):
            seen[node.attr] += 1
        elif isinstance(node, ast.alias):
            seen[node.name.rsplit(".", 1)[-1]] += 1
    return seen


def test_no_unreferenced_definitions():
    files = [p for d in _REF_DIRS for p in sorted((REPO / d).rglob("*.py"))]
    files += [REPO / f for f in _REF_FILES]
    uses: Counter = Counter()
    for path in files:
        uses += _names(ast.parse(path.read_text(encoding="utf-8")))

    dead = []
    for path in sorted((REPO / "immich_geodata_zh_tw_spark").rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if node.decorator_list:  # registered by its decorator
                continue
            if uses[node.name] == _names(node)[node.name]:
                dead.append(f"{path.relative_to(REPO)}:{node.name}")
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
