"""The slow-tier lists in conftest.py name real files and tests.

``pytest_collection_modifyitems`` marks by bare name, so a stale entry
left behind by a deleted test would silently mark any future test of
that name slow.  Parses the test sources; no Spark session.
"""

from __future__ import annotations

import ast
import os

from tests.conftest import _SLOW_FILE_TESTS, _SLOW_FILES, _SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_defs() -> dict[str, set[str]]:
    """File basename → names of the ``def test_*`` it defines."""
    out = {}
    for name in sorted(os.listdir(TESTS_DIR)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(TESTS_DIR, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=name)
        out[name] = {
            node.name
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_")
        }
    return out


def test_slow_tier_lists_name_existing_tests():
    defs = _test_defs()
    all_tests = set().union(*defs.values())
    assert sorted(f for f in _SLOW_FILES if f not in defs) == []
    assert sorted(t for t in _SLOW_TESTS if t not in all_tests) == []
    assert sorted(
        (f, t) for f, t in _SLOW_FILE_TESTS if t not in defs.get(f, set())
    ) == []
