"""Every ``from rust_vector_search_spark… import X`` in the tools, the
repo benchmark and ``bench.py`` must resolve. Several tools import
inside functions, so importing the tool module alone would not notice
a library deletion that leaves one of their legs broken."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PACKAGE = "rust_vector_search_spark"


def _parsed_tools():
    """(path relative to the repo, ast) of every tool, the repo
    benchmark's modules and ``bench.py``."""
    files = sorted(
        glob.glob(f"{REPO}/tools/*.py")
        + glob.glob(f"{REPO}/perfbench/*.py")
        + [f"{REPO}/bench.py"]
    )
    for path in files:
        with open(path) as f:
            yield os.path.relpath(path, REPO), ast.parse(f.read(), path)


def _imports_of(tree):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == PACKAGE
        ):
            for alias in node.names:
                yield node, alias


def _package_imports():
    for rel, tree in _parsed_tools():
        for node, alias in _imports_of(tree):
            yield rel, node.lineno, node.module, alias.name


def test_every_tool_import_from_the_package_resolves():
    found = list(_package_imports())
    assert len(found) > 100  # the parse sees the function-local imports too
    broken = []
    for path, line, module, name in found:
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            broken.append(f"{path}:{line}: {module}: {e}")
            continue
        if hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            broken.append(f"{path}:{line}: {module} has no {name!r}")
    assert not broken, "\n".join(broken)


def test_every_package_all_name_resolves():
    import pkgutil

    pkg = importlib.import_module(PACKAGE)
    checked = 0
    stale = []
    for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
        mod = importlib.import_module(info.name)
        for name in getattr(mod, "__all__", ()):
            checked += 1
            if not hasattr(mod, name):
                stale.append(f"{info.name}.__all__ lists missing {name!r}")
    assert checked > 50
    assert not stale, "\n".join(stale)


def _package_calls():
    """(path, line, callee, keyword names) for every call whose callee
    is a name the same file imported from the package."""
    for rel, tree in _parsed_tools():
        imported = {
            alias.asname or alias.name: (node.module, alias.name)
            for node, alias in _imports_of(tree)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in imported
            ):
                names = [k.arg for k in node.keywords if k.arg is not None]
                if names:
                    yield rel, node.lineno, imported[node.func.id], names


def test_every_tool_keyword_argument_exists_in_the_signature():
    """A tool that still passes a keyword the package function no
    longer takes only fails when that leg runs; check every call's
    keywords against the callee's signature."""
    import inspect

    calls = list(_package_calls())
    assert len(calls) > 50
    stale = []
    for path, line, (module, name), keywords in calls:
        obj = getattr(importlib.import_module(module), name, None)
        if not callable(obj):
            continue  # a submodule, or a name the import test reports
        params = inspect.signature(obj).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        for kw in keywords:
            if kw not in params:
                stale.append(f"{path}:{line}: {module}.{name}() takes no {kw!r}")
    assert not stale, "\n".join(stale)
