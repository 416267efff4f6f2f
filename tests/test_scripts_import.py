"""bench.py and every script under scripts/ import as modules: each keeps
``main`` behind its ``__main__`` guard, and every name it imports from
another module (bench's query lists, say) still exists."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_without_running(path):
    name = "script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
