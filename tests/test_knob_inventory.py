"""The package's environment knobs are an explicit inventory: every
``SPARK_GRAFT_*`` name the library reads is listed here, so adding a
knob (or bringing a deleted one back) takes a deliberate edit of this
list rather than slipping in beside a strategy it was meant to pick."""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KNOBS = {
    "SPARK_GRAFT_BC_NODES_MB",
    "SPARK_GRAFT_BC_QUERIES_MB",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT",
    "SPARK_GRAFT_MIN_TREES_PER_CHUNK",
    "SPARK_GRAFT_SHUFFLE_BUDGET_MB",
    "SPARK_GRAFT_STREAM_PARTS",
    "SPARK_GRAFT_TREE_TASK_MB",
}

_NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _knobs_read(source: str) -> "set[str]":
    """Every string constant of ``source`` that is exactly a knob name:
    the argument of an ``os.environ.get`` / ``getenv`` / ``environ[…]``
    read or of a helper that reads one. Docstrings, comments and error
    messages only mention names inside longer text, so they do not
    count."""
    return {
        node.value
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _NAME.fullmatch(node.value)
    }


def test_package_reads_exactly_the_listed_knobs():
    found: dict = {}
    for path in sorted(
        glob.glob(f"{REPO}/rust_vector_search_spark/**/*.py", recursive=True)
    ):
        with open(path) as f:
            for name in _knobs_read(f.read()):
                found.setdefault(name, []).append(os.path.relpath(path, REPO))
    new = {n: found[n] for n in set(found) - KNOBS}
    assert not new, f"knobs read but not listed: {new}"
    assert set(found) == KNOBS, f"listed but never read: {KNOBS - set(found)}"


def test_inventory_sees_a_deleted_knob_read_again():
    src = (
        "import os\n"
        "def f():\n"
        "    '''Reads SPARK_GRAFT_ROUTE_BRANCHES.'''\n"
        "    return os.environ.get('SPARK_GRAFT_ROUTE_BRANCHES', '0')\n"
    )
    assert _knobs_read(src) - KNOBS == {"SPARK_GRAFT_ROUTE_BRANCHES"}
