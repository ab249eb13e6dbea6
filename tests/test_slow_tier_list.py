"""The slow-tier list in conftest.py names real tests (no Spark needed).

pytest marks a test slow only when its (file, name) pair is in
``_SLOW_TESTS``; an entry left behind by a rename matches nothing, and
the renamed test silently runs in the default tier instead.
"""

from __future__ import annotations

import ast
import os

from tests.conftest import _SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_functions(fname: str) -> set[str]:
    with open(os.path.join(TESTS_DIR, fname)) as f:
        tree = ast.parse(f.read(), fname)
    return {
        node.name
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test")
    }


def test_every_slow_entry_names_an_existing_test():
    missing = []
    defined: dict[str, set[str]] = {}
    for fname, name in sorted(_SLOW_TESTS):
        if fname not in defined:
            path = os.path.join(TESTS_DIR, fname)
            defined[fname] = _test_functions(fname) if os.path.isfile(path) else set()
        if name.split("[", 1)[0] not in defined[fname]:
            missing.append((fname, name))
    assert not missing, f"_SLOW_TESTS entries naming no test: {missing}"
