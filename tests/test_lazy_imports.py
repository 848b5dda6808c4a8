"""Every ``from etl_spark... import name`` under ``etl_spark/`` resolves.

The package imports lazily inside function bodies (optional backends,
cycle breaking), so a stale import left behind by a deletion would only
fail when its branch runs. This walks the AST of every module, collects
each absolute ``from etl_spark... import name`` wherever it sits, and
checks that the module imports and defines the name.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "etl_spark"


def _import_sites(source: str, filename: str):
    """(line, module, name) for every ``from etl_spark... import name``
    in ``source``, at any nesting depth."""
    for node in ast.walk(ast.parse(source, filename=filename)):
        if (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module is not None
                and node.module.split(".")[0] == "etl_spark"):
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def _unresolved(source: str, filename: str) -> list[str]:
    problems = []
    for line, module, name in _import_sites(source, filename):
        where = f"{filename}:{line}: from {module} import {name}"
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            problems.append(f"{where}: module does not import ({exc})")
            continue
        if name == "*" or hasattr(mod, name):
            continue
        try:  # a submodule: ``from etl_spark import workload``
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            problems.append(f"{where}: name not defined")
    return problems


def test_every_package_import_resolves():
    problems = []
    n_sites = 0
    for path in sorted(PKG.rglob("*.py")):
        source = path.read_text()
        rel = str(path.relative_to(PKG.parent))
        n_sites += sum(1 for _ in _import_sites(source, rel))
        problems += _unresolved(source, rel)
    assert n_sites > 50  # the walk really reaches the package
    assert problems == []


def test_checker_flags_stale_lazy_import():
    """The walk reaches imports inside function bodies and reports a
    missing module and a missing name, but not a valid import."""
    source = (
        "def f():\n"
        "    if True:\n"
        "        from etl_spark.streaming.pipeline import Pipeline\n"
        "        from etl_spark.streaming.pipeline import NoSuchName\n"
        "        from etl_spark.streaming.no_such_module import X\n"
    )
    problems = _unresolved(source, "snippet.py")
    assert len(problems) == 2
    assert "snippet.py:4" in problems[0] and "name not defined" in problems[0]
    assert "snippet.py:5" in problems[1] and "does not import" in problems[1]
