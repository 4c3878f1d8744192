"""Every package definition has a caller outside the test suite.

Pure Python (ast + tokenize, no Spark). For each undecorated top-level
function or class in ``housing_crawler_spark/``, at least one NAME token
equal to its name must appear in a ``.py`` file outside ``tests/`` and
outside the lines of its own definition. Comments and strings are not
NAME tokens, so a docstring mention is not a caller. Decorated
definitions are skipped: a registered query or an ``atexit`` hook is
reached through its decorator, not by name.
"""

from __future__ import annotations

import ast
import os
import re
import tokenize
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "housing_crawler_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}

# Definitions kept on purpose although only tests call them.
ALLOWED = {
    "min_label_components": "reference for star_components in test_plans",
    "iterative_relaxation": "reference dashboard feature (COVERAGE F11)",
    "read_ads_csv": "the reference's CSV format (COVERAGE S1)",
    "write_ads_csv": "the reference's CSV format (COVERAGE S1)",
    "read_models": "read half of write_models, which main.py calls",
    "gate_debt": "the oracle-gate invariant that test_registry_rotation enforces",
}


def _product_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS and not x.startswith(".")]
        out.extend(os.path.join(d, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _name_tokens(path: str) -> list[tuple[str, int]]:
    """NAME tokens with their lines. Before Python 3.12 an f-string is one
    STRING token, so the names in its replacement fields come from
    parsing that token."""
    out = []
    with open(path, "rb") as fh:
        for t in tokenize.tokenize(fh.readline):
            if t.type == tokenize.NAME:
                out.append((t.string, t.start[0]))
            elif t.type == tokenize.STRING and "f" in re.match("[A-Za-z]*", t.string)[0].lower():
                for node in ast.walk(ast.parse(t.string, mode="eval")):
                    if isinstance(node, ast.Name):
                        out.append((node.id, t.start[0] + node.lineno - 1))
    return out


def _definitions(path: str) -> list[tuple[str, int, int]]:
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        (node.name, node.lineno, node.end_lineno)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.decorator_list
    ]


def unused_definitions() -> dict[str, str]:
    """Name -> ``path:line`` of each package definition without a caller."""
    files = _product_files()
    uses: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for path in files:
        for name, line in _name_tokens(path):
            uses[name].append((path, line))
    pkg = os.path.join(ROOT, PACKAGE) + os.sep
    unused = {}
    for path in files:
        if not path.startswith(pkg):
            continue
        for name, lo, hi in _definitions(path):
            if all(p == path and lo <= ln <= hi for p, ln in uses[name]):
                unused[name] = f"{os.path.relpath(path, ROOT)}:{lo}"
    return unused


def test_every_package_definition_has_a_product_caller():
    unused = unused_definitions()
    assert sorted(f"{unused[n]} {n}" for n in set(unused) - set(ALLOWED)) == []


def test_allowlist_is_not_stale():
    """An allowlisted name must still be defined and still lack a caller."""
    assert sorted(set(ALLOWED) - set(unused_definitions())) == []
