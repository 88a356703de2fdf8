"""Every line of the slow-tier ledger names a test that exists.

conftest marks the node ids listed in ``tests/slow_tier.txt`` slow. A
line whose test was deleted or renamed marks nothing, silently. This
check is static (AST only): it resolves the file, class and function of
each node id; a parametrize id in brackets is not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent


def _ledger() -> list[str]:
    lines = (TESTS / "slow_tier.txt").read_text(encoding="utf-8").splitlines()
    return [ln.strip() for ln in lines if ln.strip() and not ln.startswith("#")]


def _defined(body: list[ast.stmt], prefix: str = "") -> set[str]:
    """``Class::function`` / ``function`` paths defined in ``body``."""
    names = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(prefix + node.name)
        elif isinstance(node, ast.ClassDef):
            names |= _defined(node.body, f"{prefix}{node.name}::")
    return names


def test_every_ledger_line_names_an_existing_test():
    defined: dict[str, set[str]] = {}
    stale = []
    for node_id in _ledger():
        file, _, test = node_id.partition("::")
        path = ROOT / file
        if file not in defined:
            defined[file] = (
                _defined(ast.parse(path.read_text(encoding="utf-8")).body)
                if path.is_file()
                else set()
            )
        if test.partition("[")[0] not in defined[file]:
            stale.append(node_id)
    assert not stale, "slow_tier.txt names no such test: " + ", ".join(stale)
