"""Every line of the slow-tier ledger names a test that exists.

conftest marks the node ids listed in ``tests/slow_tier.txt`` slow. A
line whose test was deleted or renamed marks nothing, silently. The
check resolves the file, class and function of each node id statically
(AST only). A parametrize id in brackets is checked on the registry
sweeps, whose ids are query names: it must name a registered query.
"""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent

#: the registry sweeps: tests parametrized by registered query name
REGISTRY_SWEEPS = {
    "tests/test_oracle_parity.py::test_query_matches_oracle",
    "tests/test_oracle_parity.py::test_rows_only_queries_run_and_are_deterministic",
    "tests/test_plan_quality.py::test_no_accidental_nested_loop",
}


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


def test_registry_sweep_ids_name_registered_queries():
    from etl_procedure_codes_crawler_spark.harness import registry

    queries = registry()
    stale = []
    for node_id in _ledger():
        test, _, param = node_id.partition("[")
        if test in REGISTRY_SWEEPS and param.rstrip("]") not in queries:
            stale.append(node_id)
    assert not stale, "slow_tier.txt names no registered query: " + ", ".join(
        stale
    )
