"""Guard: the package reads only its deployment settings from the
environment.

Every behavior choice lives in code (one implementation per capability,
keyed on the master or the data); A/B comparisons run through
``perfbench/run.py`` on two checkouts instead of env switches. This
test walks the package source with ``ast`` and fails if any
``os.environ.get(...)``, ``os.environ[...]`` or ``os.getenv(...)``
names a variable outside the allowed set, or names one through a
non-literal expression the guard cannot check.
"""

from __future__ import annotations

import ast
import pathlib

import citibike_analysis_spark

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_PARITY_GUARDS"}

PKG = pathlib.Path(citibike_analysis_spark.__file__).parent


def _is_environ(node: ast.AST) -> bool:
    """``os.environ`` or a bare ``environ`` (``from os import environ``)."""
    if isinstance(node, ast.Attribute):
        return node.attr == "environ"
    return isinstance(node, ast.Name) and node.id == "environ"


def _env_reads(tree: ast.AST):
    """(lineno, key node) for every environment read in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            env_get = (
                isinstance(f, ast.Attribute)
                and f.attr in ("get", "setdefault", "pop")
                and _is_environ(f.value)
            )
            getenv = (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            )
            if env_get or getenv:
                yield node.lineno, node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.lineno, node.slice


def test_package_reads_only_deployment_env_vars():
    sources = sorted(PKG.rglob("*.py"))
    assert len(sources) > 20, "package source not found"
    seen, bad = set(), []
    for path in sources:
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, key in _env_reads(tree):
            where = f"{path.relative_to(PKG.parent)}:{lineno}"
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                seen.add(key.value)
                if key.value not in ALLOWED:
                    bad.append(f"{where} reads {key.value}")
            else:
                bad.append(f"{where} reads a non-literal env key")
    assert not bad, "env knobs outside the allowed set:\n" + "\n".join(bad)
    # the walker must actually find the reads it polices
    assert seen == ALLOWED


def test_guard_catches_each_read_form():
    snippet = (
        "import os\n"
        "from os import environ, getenv\n"
        "os.environ.get('A')\n"
        "os.environ['B']\n"
        "os.getenv('C')\n"
        "environ.get('D')\n"
        "getenv('E')\n"
        "os.environ.get(name)\n"
    )
    keys = [
        k.value if isinstance(k, ast.Constant) else None
        for _, k in _env_reads(ast.parse(snippet))
    ]
    assert sorted(keys, key=str) == ["A", "B", "C", "D", "E", None]
