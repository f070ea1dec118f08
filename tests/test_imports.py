"""Every package module imports and every ``tools/*.py`` script loads.

Most of the package is imported lazily (inside functions), and the tools
are only ever run as scripts, so a leftover import of a deleted module
would otherwise surface only when that path runs. Loading a tool runs
its module body, never its ``__main__`` block.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil

import pytest

import sample_dms_kinesis_rds_mariadb_spark as pkg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")

MODULES = sorted(
    m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
)
SCRIPTS = sorted(
    f for f in os.listdir(TOOLS) if f.endswith(".py") and f != "__init__.py"
)


def test_walk_finds_the_package():
    assert f"{pkg.__name__}.engine" in MODULES
    assert f"{pkg.__name__}.operators.similarity" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_package_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_script_loads(script):
    spec = importlib.util.spec_from_file_location(
        f"_tool_{script[:-3]}", os.path.join(TOOLS, script)
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
