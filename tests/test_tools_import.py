"""Every script under tools/ must import cleanly as a module.

The scripts are not imported by the package or the benchmark, so a
renamed or deleted package name they still use would otherwise only
surface when someone runs them. Each has a ``__main__`` guard, so
importing runs no work.
"""

from __future__ import annotations

import importlib
import os

import pytest

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
TOOLS = sorted(f[:-3] for f in os.listdir(TOOLS_DIR) if f.endswith(".py"))


def test_tools_dir_is_not_empty():
    assert TOOLS


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
