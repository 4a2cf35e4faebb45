"""Import smoke test: every library and bench module, and the bench scripts.

Most bench modules are only ever run as scripts, so a dangling import left
behind by a deleted module would otherwise surface only when someone runs
that script by hand.
"""

from __future__ import annotations

import importlib
import importlib.util
import pkgutil
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
