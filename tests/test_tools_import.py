"""Every script outside the package imports cleanly, so a renamed or
deleted engine name fails here instead of in the next manual run."""

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "bench_extra.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_script_imports(path):
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
