"""Every package module is reached from a non-test entry point.

A module that no query, pipeline, bench or script imports is code only
its own tests keep alive. This test walks imports statically (AST only,
nothing is imported or run) from the entry points: ``bench.py``,
``__spark_entry__.py``, ``scripts/*.py`` and perfbench's non-test
modules, following module-level and function-local imports through the
package. The query registry needs no entry of its own: ``bench.py`` and
``__spark_entry__.py`` import it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "etl_procedure_codes_crawler_spark"

# Kept although no entry point imports them, one reason each.
UNREACHED_BY_DESIGN = {
    f"{PACKAGE}.config": "the reference's env-var settings (utils/config.py)",
    f"{PACKAGE}.sources.secrets": "the reference's secret lookup (get_secret)",
    f"{PACKAGE}.sources.login": "the reference's multi-step site login",
    f"{PACKAGE}.sources.jdbc": "the reference's Postgres reads",
    f"{PACKAGE}.sinks.jdbc": "the reference's Postgres writes and DDL",
    f"{PACKAGE}.sinks.errors": "the reference's error-audit row",
    f"{PACKAGE}.plans.parity": "the tests' oracle comparer",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {
        _module_name(path): path
        for path in (ROOT / PACKAGE).rglob("*.py")
    }


def _entry_points() -> list[Path]:
    return [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted(
            path
            for path in (ROOT / "perfbench").glob("*.py")
            if not path.name.startswith("test_")
        ),
    ]


def _imported_names(path: Path, name: str) -> set[str]:
    """Dotted names each import in ``path`` may bind, absolute."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            # ``from pkg import mod`` binds a submodule
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def reached_modules() -> set[str]:
    modules = _package_modules()
    reached: set[str] = set()
    frontier = [(path, _module_name(path)) for path in _entry_points()]
    while frontier:
        path, name = frontier.pop()
        for imported in _imported_names(path, name):
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            parts = imported.split(".")
            for depth in range(1, len(parts) + 1):
                target = ".".join(parts[:depth])
                if target in modules and target not in reached:
                    reached.add(target)
                    frontier.append((modules[target], target))
    return reached


def test_every_package_module_is_reached():
    unreached = set(_package_modules()) - reached_modules()
    dead = sorted(unreached - set(UNREACHED_BY_DESIGN))
    assert not dead, "reached by no entry point: " + ", ".join(dead)


def test_exemptions_name_existing_unreached_modules():
    """An exemption for a module that is gone, or that an entry point
    now reaches, would hide nothing and should be dropped."""
    modules = _package_modules()
    assert set(UNREACHED_BY_DESIGN) <= set(modules)
    assert set(UNREACHED_BY_DESIGN).isdisjoint(reached_modules())
