"""Keyword arguments in ``scripts/`` must name real parameters.

No test runs the scripts, so removing or renaming a parameter of a
``vspace_spark`` function would break them silently. Each call to a
function imported from ``vspace_spark`` is checked against
``inspect.signature``, unless that function takes ``**kwargs``."""

from __future__ import annotations

import ast
import importlib
import inspect
import types
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _imported(tree: ast.Module) -> dict:
    """Local name -> object, for every ``vspace_spark`` import."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
            node.module or ""
        ).startswith("vspace_spark"):
            module = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(module, a.name, None)
                if obj is None:  # a submodule not yet imported
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("vspace_spark") and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def _callee(func: ast.expr, names: dict):
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        base = names.get(func.value.id)
        if isinstance(base, types.ModuleType):
            return getattr(base, func.attr, None)
    return None


def test_script_keywords_exist():
    bad, checked = [], 0
    for path in sorted(SCRIPTS.glob("*.py")):
        tree = ast.parse(path.read_text())
        names = _imported(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = _callee(node.func, names)
            if fn is None or not callable(fn):
                continue
            params = inspect.signature(fn).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            checked += 1
            bad += [
                f"{path.name}:{node.lineno} {fn.__name__}({kw.arg}=...)"
                for kw in node.keywords
                if kw.arg is not None and kw.arg not in params
            ]
    assert checked > 0
    assert bad == [], bad
