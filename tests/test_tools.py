"""Every script under tools/ imports cleanly without running its main.

A tool that imports a deleted sibling (or a renamed package symbol)
fails only when someone runs it; importing each module here catches
the dangling import in the suite instead."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

TOOLS = sorted(
    p.stem for p in (Path(__file__).resolve().parents[1] / "tools").glob("*.py")
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_module_imports(name):
    mod = importlib.import_module(f"tools.{name}")
    assert callable(mod.main)
