"""Every engine name a tool script imports still exists.

The scripts under ``tools/`` and ``bench.py`` run outside the test suite,
so deleting or renaming an engine function they use would otherwise
leave a broken script behind unnoticed.  This parses each script with
``ast`` (nothing is executed, no Spark session starts) and resolves
every ``from tcdb_spark... import name`` / ``from bench import name`` /
``import tcdb_spark...`` it contains, at module level or inside a
function.  It also checks that each script puts its own checkout on
``sys.path``, never a fixed absolute path: run from a second checkout,
a script must import and check that checkout's engine."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = sorted(glob.glob(os.path.join(_REPO, "tools", "*.py"))) + [
    os.path.join(_REPO, "bench.py")
]
_ROOTS = ("tcdb_spark", "bench")


def _engine_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each engine import in ``path``; name is
    None for a plain ``import module``."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in _ROOTS:
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] in _ROOTS
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


@pytest.mark.parametrize("path", _SCRIPTS, ids=lambda p: os.path.relpath(p, _REPO))
def test_tool_engine_imports_resolve(path):
    missing = [
        f"{os.path.relpath(path, _REPO)}:{line}: {module}" + (f".{name}" if name else "")
        for line, module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "tool imports an engine name that no longer exists:\n" + "\n".join(
        missing
    )


def _absolute_sys_path_literals(path: str) -> list[tuple[int, str]]:
    """(line, literal) for each absolute-path string inside a
    ``sys.path.insert``/``append``/``extend`` call in ``path``."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append", "extend")
            and ast.unparse(node.func.value) == "sys.path"
        ):
            continue
        out += [
            (c.lineno, c.value)
            for arg in node.args
            for c in ast.walk(arg)
            if isinstance(c, ast.Constant) and isinstance(c.value, str) and os.path.isabs(c.value)
        ]
    return out


@pytest.mark.parametrize("path", _SCRIPTS, ids=lambda p: os.path.relpath(p, _REPO))
def test_tool_puts_its_own_checkout_on_sys_path(path):
    fixed = [
        f"{os.path.relpath(path, _REPO)}:{line}: {value!r}"
        for line, value in _absolute_sys_path_literals(path)
    ]
    assert not fixed, (
        "tool puts a fixed absolute path on sys.path; derive the checkout root from "
        "__file__ instead:\n" + "\n".join(fixed)
    )
