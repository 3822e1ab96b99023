"""Every ``prosearch_spark`` import in the scripts no test runs
(``tools/``, ``jobs/``, ``bench.py``, ``__spark_entry__.py``,
``perfbench/*.py``) must resolve, so deleting a library name cannot
leave a stale import behind. No Spark session: the modules import
pyspark but build no plan."""

from __future__ import annotations

import ast
import fnmatch
import glob
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT_GLOBS = ["tools/*.py", "jobs/*.py", "bench.py", "__spark_entry__.py",
                "perfbench/*.py"]


def _library_imports():
    """(script, module, name) for every ``from prosearch_spark... import
    name`` and (script, module, None) for every ``import
    prosearch_spark...``, lazy imports inside functions included."""
    out = []
    for pattern in SCRIPT_GLOBS:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            rel = os.path.relpath(path, ROOT)
            for node in ast.walk(tree):
                if (isinstance(node, ast.ImportFrom) and node.module
                        and node.module.split(".")[0] == "prosearch_spark"):
                    out += [(rel, node.module, a.name) for a in node.names]
                elif isinstance(node, ast.Import):
                    out += [(rel, a.name, None) for a in node.names
                            if a.name.split(".")[0] == "prosearch_spark"]
    return out


def test_script_library_imports_resolve():
    imports = _library_imports()
    # the scan really reached every kind of script
    scripts = {s for s, _, _ in imports}
    for pattern in SCRIPT_GLOBS:
        assert any(fnmatch.fnmatch(s, pattern) for s in scripts), pattern
    missing = []
    for script, module, name in imports:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        if importlib.util.find_spec(f"{module}.{name}") is None:
            missing.append(f"{script}: from {module} import {name}")
    assert not missing, "\n".join(missing)
