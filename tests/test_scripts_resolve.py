"""Static check that the scripts' imports from this repo still resolve.

The scripts import lazily, inside functions, so a renamed or deleted
package function breaks them only when someone runs them. This walks
every import statement at any depth of ``scripts/*.py``, ``bench.py``
and ``__spark_entry__.py``, imports each in-repo module it names and
asserts that each imported name exists. No SparkSession is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IN_REPO = ("ct_clickhouse_spark", "tests.ctgen", "__spark_entry__")
FILES = sorted(
    os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "scripts", "*.py"))
) + ["bench.py", "__spark_entry__.py"]


def _in_repo(module: str) -> bool:
    return any(module == m or module.startswith(m + ".") for m in IN_REPO)


def _imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every in-repo import in the file; name is
    None for a plain ``import module``."""
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if _in_repo(node.module):
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names if _in_repo(a.name)]
    return out


def test_scripts_are_found():
    assert "scripts/verify_driver.py" in FILES


@pytest.mark.parametrize("path", FILES)
def test_script_imports_resolve(path):
    missing = []
    for line, module, name in _imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path}:{line}: {module}.{name}")
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
