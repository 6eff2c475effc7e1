"""Every ``kiez_spark`` import in the repo resolves — including the
function-level imports that only run when their query or tool runs.

Static: each file is parsed with ``ast``, nothing in it is executed, and
no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DIRS = ("kiez_spark", "jobs", "tools", "tests")


def _kiez_imports(path: Path):
    """(line, module, names) for each import of a kiez_spark module;
    names is empty for a plain ``import``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "kiez_spark":
                    yield node.lineno, a.name, ()
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "kiez_spark":
                yield node.lineno, node.module, [a.name for a in node.names]


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent is missing or not a package
        return False


def _dangling(module: str, names) -> list[str]:
    if not _resolves(module):
        return [module]
    mod = importlib.import_module(module)
    # each imported name is an attribute of the module or a submodule
    return [
        f"{module}.{name}"
        for name in names
        if not hasattr(mod, name) and not _resolves(f"{module}.{name}")
    ]


def test_no_dangling_kiez_spark_imports():
    files = sorted(p for d in DIRS for p in (ROOT / d).rglob("*.py"))
    assert files
    bad = [
        f"{p.relative_to(ROOT)}:{line}: {m}"
        for p in files
        for line, module, names in _kiez_imports(p)
        for m in _dangling(module, names)
    ]
    assert not bad, "imports of missing kiez_spark modules:\n" + "\n".join(bad)
