"""Every ``tools/`` script imports cleanly without running its
``main()``, so a renamed package symbol fails here instead of leaving
a broken tool behind."""

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem for p in (pathlib.Path(__file__).parent.parent / "tools").glob("*.py")
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
