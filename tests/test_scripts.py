"""The scripts under ``scripts/`` are run by hand, so nothing else notices
when one still names a symbol the package no longer has. Importing each
one as a module (its ``main`` runs only under ``__main__``), then resolving
every ``from core_etl_spark... import`` it makes, including the ones inside
functions, and every attribute it reads or sets on a package module, turns
that into a test failure."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
import types
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _missing_package_names(path: Path) -> list[str]:
    """Names a script takes from ``core_etl_spark`` that do not exist:
    ``from core_etl_spark.m import x`` anywhere in the file, and ``D.x``
    (read or set) where ``D`` is a package module the script imported."""
    tree = ast.parse(path.read_text())
    missing, modules = [], {}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").split(".")[0] == "core_etl_spark"
        ):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            try:
                obj = (
                    getattr(mod, alias.name)
                    if hasattr(mod, alias.name)
                    else importlib.import_module(f"{node.module}.{alias.name}")
                )
            except ImportError:
                missing.append(f"{node.module}.{alias.name}")
                continue
            if isinstance(obj, types.ModuleType):
                modules[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    return missing


def test_every_script_imports_without_running_main(monkeypatch):
    # run as a script, its own dir is sys.path[0] (sibling imports); the
    # scripts also add the repo and the tests dir, undone at teardown
    monkeypatch.syspath_prepend(str(SCRIPTS))
    scripts = sorted(SCRIPTS.glob("*.py"))
    assert scripts
    failed = {}
    for path in scripts:
        name = f"_script_{path.stem}"
        spec = importlib.util.spec_from_file_location(name, path)
        module = importlib.util.module_from_spec(spec)
        try:
            spec.loader.exec_module(module)
            missing = _missing_package_names(path)
            if missing:
                failed[path.name] = f"names missing from the package: {missing}"
        except Exception as e:  # noqa: BLE001 — report every script at once
            failed[path.name] = f"{type(e).__name__}: {e}"
        finally:
            sys.modules.pop(name, None)
    assert not failed, failed
