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


def _package_imports():
    files = sorted(
        glob.glob(f"{REPO}/tools/*.py")
        + glob.glob(f"{REPO}/perfbench/*.py")
        + [f"{REPO}/bench.py"]
    )
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == PACKAGE
            ):
                rel = os.path.relpath(path, REPO)
                for alias in node.names:
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
