"""Every package module, top-level definition and registered query is
reached from a non-test entry point.

Code that no query, pipeline, bench or script reaches is code only its
own tests keep alive. The walks here are static (AST only; only the
registry check imports the package): they start from the entry points
``bench.py``, ``__spark_entry__.py``, ``scripts/*.py`` and perfbench's
non-test modules.

- Modules: module-level and function-local imports are followed
  through the package.
- Definitions: a function, class or constant is reached when a reached
  statement names it, directly, through an import binding or as an
  attribute of an imported package module. What runs on import (the
  non-definition statements of a reached module, and every
  ``@register``-ed query builder) is reached.
- Queries: a registered query must be named by one of the lists that
  choose what runs (headline bench, box factor, driver gate order,
  harness warm-up) or by perfbench or a script.
- Options: a defaulted parameter of a package function must receive
  more than one value across every call in the package, the entry
  points and the tests; one value is a constant.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "etl_procedure_codes_crawler_spark"

# Kept although no entry point imports them, one reason each.
UNREACHED_BY_DESIGN = {
    f"{PACKAGE}.plans.parity": "the tests' oracle comparer",
}

# Top-level definitions of reached modules kept although no entry point
# reaches them, one reason each. (A module in UNREACHED_BY_DESIGN is
# exempt as a whole.)
DEFINITIONS_UNREACHED_BY_DESIGN: dict[str, str] = {}


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


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"))


def _import_base(node: ast.ImportFrom, package: str) -> str:
    base = node.module or ""
    if node.level:
        anchor = package.rsplit(".", node.level - 1)[0]
        base = f"{anchor}.{base}" if base else anchor
    return base


def _imported_names(path: Path, name: str) -> set[str]:
    """Dotted names each import in ``path`` may bind, absolute."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(node, package)
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


# ---------------------------------------------------------------------------
# top-level definitions
# ---------------------------------------------------------------------------


def _is_register(decorator: ast.expr) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    return isinstance(func, ast.Name) and func.id == "register"


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a top-level definition binds; none for code that runs."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, ast.Tuple) else [target]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    # dunders (``__version__``) are module metadata, not definitions
    return [n for n in names if not n.startswith("__")]


class _Source:
    """One parsed file (or ``text`` standing for that file): its
    definitions and its import bindings."""

    def __init__(self, path: Path, text: str | None = None):
        self.name = _module_name(path)
        self.package = (
            self.name if path.name == "__init__.py" else self.name.rpartition(".")[0]
        )
        self.tree = _parse(path) if text is None else ast.parse(text)
        self.defs: dict[str, list[ast.stmt]] = {}
        #: statements that run on import, and registered query builders
        self.on_import: list[ast.stmt] = []
        for stmt in self.tree.body:
            names = _defined_names(stmt)
            for name in names:
                self.defs.setdefault(name, []).append(stmt)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if not names or any(
                _is_register(d) for d in getattr(stmt, "decorator_list", ())
            ):
                self.on_import.append(stmt)
        #: local name -> the dotted names it binds, in any scope
        self.bindings: dict[str, set[str]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    local = alias.asname or alias.name.partition(".")[0]
                    target = alias.name if alias.asname else local
                    self.bindings.setdefault(local, set()).add(target)
            elif isinstance(node, ast.ImportFrom):
                base = _import_base(node, self.package)
                for alias in node.names:
                    self.bindings.setdefault(
                        alias.asname or alias.name, set()
                    ).add(f"{base}.{alias.name}")


class _Graph:
    """Name-level references between the package's definitions (by
    default, the package's own modules)."""

    def __init__(self, sources: dict[str, _Source] | None = None):
        self.sources = sources if sources is not None else {
            name: _Source(path) for name, path in _package_modules().items()
        }

    def resolve(self, dotted: str, depth: int = 0) -> tuple[str, str] | None:
        """The package definition ``module.name`` stands for, following
        re-exports; None for a module or anything outside the package."""
        module, _, name = dotted.rpartition(".")
        source = self.sources.get(module)
        if source is None or depth > 10:  # depth: re-export cycles
            return None
        if name in source.defs:
            return module, name
        for target in source.bindings.get(name, ()):
            found = self.resolve(target, depth + 1)
            if found:
                return found
        return None

    def references(self, source: _Source, stmts) -> set[tuple[str, str]]:
        """The package definitions that names in ``stmts`` refer to: a
        bare name, or the head of an attribute chain, resolved through
        ``source``'s own definitions and import bindings."""
        found = set()
        for stmt in stmts:
            for node in ast.walk(stmt):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.append(node.attr)
                    node = node.value
                if not isinstance(node, ast.Name):
                    continue
                head = node.id
                if head in source.defs:
                    if source.name in self.sources:
                        found.add((source.name, head))
                    continue
                for dotted in source.bindings.get(head, ()):
                    # ``a.b.c``: try the longest prefix first
                    parts = [dotted, *reversed(chain)]
                    for depth in range(len(parts), 0, -1):
                        target = self.resolve(".".join(parts[:depth]))
                        if target:
                            found.add(target)
                            break
        return found

    def reached(self, roots: set[tuple[str, str]]) -> set[tuple[str, str]]:
        reached: set[tuple[str, str]] = set()
        frontier = list(roots)
        while frontier:
            module, name = frontier.pop()
            if (module, name) in reached:
                continue
            reached.add((module, name))
            source = self.sources[module]
            frontier += self.references(source, source.defs[name])
        return reached


def reached_definitions(extra_roots=()) -> set[str]:
    """``module.name`` of every package definition an entry point, or
    one of ``extra_roots`` (dotted names), reaches."""
    graph = _Graph()
    roots = {tuple(root.rsplit(".", 1)) for root in extra_roots}
    for path in _entry_points():
        entry = _Source(path)
        roots |= graph.references(entry, entry.tree.body)
    modules = reached_modules()
    for name, source in graph.sources.items():
        if name in modules:
            roots |= graph.references(source, source.on_import)
            roots |= {
                (name, stmt.name)
                for stmt in source.on_import
                if hasattr(stmt, "name")
            }
        elif name in UNREACHED_BY_DESIGN:
            roots |= {(name, d) for d in source.defs}
    return {f"{module}.{name}" for module, name in graph.reached(roots)}


def _package_definitions() -> set[str]:
    """Top-level definitions of the modules not exempt as a whole."""
    return {
        f"{name}.{d}"
        for name, path in _package_modules().items()
        if name not in UNREACHED_BY_DESIGN
        for d in _Source(path).defs
    }


def test_every_top_level_definition_is_reached():
    reached = reached_definitions(DEFINITIONS_UNREACHED_BY_DESIGN)
    dead = sorted(_package_definitions() - reached)
    assert not dead, "reached by no entry point: " + ", ".join(dead)


def test_exemptions_name_existing_unreached_definitions():
    exempt = set(DEFINITIONS_UNREACHED_BY_DESIGN)
    assert exempt <= _package_definitions(), exempt - _package_definitions()
    assert exempt.isdisjoint(reached_definitions())


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

#: the lists that choose which registered queries run: file -> name
_QUERY_LISTS = {
    "bench.py": ("HEADLINE", "_BOX_FACTOR_QUERIES"),
    "__spark_entry__.py": ("_GATE_PRIORITY",),
    f"{PACKAGE}/harness.py": ("WARM_UP_QUERIES",),
}


def _strings(node: ast.AST) -> set[str]:
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def entry_point_query_names() -> set[str]:
    """Every string an entry point may name a query with: the members
    of the lists above, and any string in perfbench's non-test modules
    or in a script. The QUERIES.md generator is no such script: its
    family patterns only sort what is registered."""
    names: set[str] = set()
    for file, lists in _QUERY_LISTS.items():
        for stmt in _parse(ROOT / file).body:
            if set(_defined_names(stmt)) & set(lists):
                names |= _strings(stmt.value)
    for path in _entry_points():
        if path.parent.name in ("perfbench", "scripts") and (
            path.name != "gen_queries_md.py"
        ):
            names |= _strings(_parse(path))
    return names


def test_every_registered_query_is_named_by_an_entry_point():
    from etl_procedure_codes_crawler_spark.harness import registry

    unnamed = sorted(set(registry()) - entry_point_query_names())
    assert not unnamed, "registered but run by no entry point: " + ", ".join(
        unnamed
    )


# ---------------------------------------------------------------------------
# option values
# ---------------------------------------------------------------------------

_ORACLE_SQL = "emits oracle SQL: that SQL is the reference"

#: Defaulted package parameters kept although every call passes them
#: one value, one reason each. A key names a module, a function or one
#: parameter.
ONE_VALUE_BY_DESIGN = {
    # perfbench/workloads.py calls clean_codes(df, "code"); the
    # benchmark's files change only in a change of their own
    f"{PACKAGE}.operators.cleaning.clean_codes.column": (
        "the benchmark's call names the key column"
    ),
    f"{PACKAGE}.operators.cleaning.clean_key_column.column": (
        "clean_codes passes its key column through"
    ),
    **{
        f"{PACKAGE}.llm.queries.{name}": _ORACLE_SQL
        for name in (
            "_minhash_sig_bucket_ctes",
            "_minhash_oracle_ctes",
            "_kmeans_int_ctes",
            "_ivf_md5_oracle",
            "_pq_md5_oracle",
            "_hpq_md5_oracle",
            "_source_minhash_oracle",
            "_margin_ann_md5_oracle",
        )
    },
}

#: what an argument passes when the check cannot see its value
_VARIES = object()


def _call_sites() -> list[Path]:
    """Every file whose calls count: the package, the entry points and
    all tests."""
    return [
        *_package_modules().values(),
        *_entry_points(),
        *sorted((ROOT / "perfbench").glob("test_*.py")),
        *sorted((ROOT / "tests").glob("*.py")),
    ]


def _params(fn: ast.FunctionDef) -> tuple[list[str], dict[str, str]]:
    """The positional parameter names, and the source of each default."""
    args = fn.args
    positional = [a.arg for a in (*args.posonlyargs, *args.args)]
    defaults = dict(
        zip(positional[len(positional) - len(args.defaults):],
            map(ast.unparse, args.defaults))
    )
    defaults.update(
        (a.arg, ast.unparse(d))
        for a, d in zip(args.kwonlyargs, args.kw_defaults)
        if d is not None
    )
    return positional, defaults


def _all_params(fn: ast.FunctionDef) -> list[str]:
    return [*_params(fn)[0], *(a.arg for a in fn.args.kwonlyargs)]


class _Scope:
    """Where a call sits: its class, the parameters in reach (each
    mapped to the package function that owns it, or None for a nested
    function or lambda), every name bound locally, and the ``**``
    parameters in reach that no call fills."""

    def __init__(
        self, cls=None, params=None, local=frozenset(), empty=frozenset()
    ):
        self.cls = cls
        self.params: dict[str, str | None] = params or {}
        self.local: frozenset[str] = local
        self.empty: frozenset[str] = empty

    def enter(self, node, owner: str | None, unfilled: bool) -> "_Scope":
        """The scope inside function ``node``; ``unfilled``: no call
        fills its ``**`` parameter."""
        args = node.args
        names = {
            a.arg
            for a in (*args.posonlyargs, *args.args, *args.kwonlyargs,
                      args.vararg, args.kwarg)
            if a is not None
        }
        bound = set(names)
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                bound.add(n.id)
            elif isinstance(n, ast.ExceptHandler) and n.name:
                bound.add(n.name)
            elif n is not node and isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                bound.add(n.name)
        empty = self.empty - names
        if unfilled:
            empty |= {args.kwarg.arg}
        return _Scope(
            self.cls,
            {**self.params, **dict.fromkeys(names, owner)},
            self.local | bound,
            empty,
        )


def _unfilled_kwargs(sources: list[_Source]) -> set[int]:
    """The ``id`` of each function whose ``**`` parameter no call
    fills: every call by its name passes only keywords the function
    names, and the name is never passed around as a value (to be
    called unseen). Matching by name over-approximates the callers,
    so a shared name only ever keeps a ``**`` counted as filled."""
    defs = [
        node
        for source in sources
        for node in ast.walk(source.tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.args.kwarg
    ]
    names = {fn.name for fn in defs}
    calls: dict[str, list[ast.Call]] = {}
    callees, passed = set(), set()
    for source in sources:
        for node in ast.walk(source.tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                if name in names:
                    calls.setdefault(name, []).append(node)
        for node in ast.walk(source.tree):
            name = getattr(node, "id", getattr(node, "attr", None))
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and name in names
                and id(node) not in callees
            ):
                passed.add(name)
    unfilled = set()
    for fn in defs:
        named = set(_all_params(fn))
        if fn.name not in passed and all(
            k.arg in named for call in calls.get(fn.name, ()) for k in call.keywords
        ):
            unfilled.add(id(fn))
    return unfilled


class _Options:
    """The values each package function's parameters receive."""

    def __init__(self, graph: _Graph | None = None, callers=None):
        """``callers``: the sources whose calls count (default: every
        file :func:`_call_sites` names)."""
        self.graph = graph or _Graph()
        if callers is None:
            callers = [_Source(path) for path in _call_sites()]
        self.unfilled = _unfilled_kwargs(callers)
        #: ``module.name`` or ``module.Class.name`` -> its definition
        self.functions: dict[str, ast.FunctionDef] = {}
        #: method name -> every package method so named
        self.methods: dict[str, list[str]] = {}
        for module, source in self.graph.sources.items():
            for stmt in source.tree.body:
                if isinstance(stmt, ast.FunctionDef):
                    self.functions[f"{module}.{stmt.name}"] = stmt
                elif isinstance(stmt, ast.ClassDef):
                    for m in stmt.body:
                        if isinstance(m, ast.FunctionDef):
                            key = f"{module}.{stmt.name}.{m.name}"
                            self.functions[key] = m
                            self.methods.setdefault(m.name, []).append(key)
        #: (function, parameter) -> what each call passes: the source
        #: text of a value, _VARIES, or the (function, parameter) whose
        #: values it passes through
        self.passed: dict[tuple[str, str], list] = {}
        for source in callers:
            for stmt in source.tree.body:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    self._visit(source, stmt, _Scope(), source.name)

    def _targets(self, source: _Source, node: ast.expr, scope: _Scope):
        """(function, leading parameters a call binds implicitly) for
        each package function a callee or value expression may name. A
        method called on an object of unknown type matches by name."""
        chain = []
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        chain.reverse()
        by_name = (
            [(key, 1) for key in self.methods.get(chain[-1], ())] if chain else []
        )
        if not isinstance(node, ast.Name) or node.id in scope.local:
            return by_name
        head = node.id
        if head == "self" and scope.cls and len(chain) == 1:
            key = f"{source.name}.{scope.cls}.{chain[0]}"
            return [(key, 1)] if key in self.functions else []
        found, rest = None, chain
        if head in source.defs:
            found = (source.name, head)
        for dotted in () if found else source.bindings.get(head, ()):
            parts = [dotted, *chain]
            for depth in range(len(parts), 0, -1):
                found = self.graph.resolve(".".join(parts[:depth]))
                if found:
                    rest = parts[depth:]
                    break
            if found:
                break
        if not found:
            return by_name
        key = ".".join(found)
        if key in self.functions and not rest:
            return [(key, 0)]
        # ``Cls(...)`` runs ``Cls.__init__``; ``Cls.method`` is unbound
        member = f"{key}.{rest[0] if rest else '__init__'}"
        if len(rest) <= 1 and member in self.functions:
            return [(member, 0 if rest else 1)]
        return []

    def _record(self, key: str, param: str, value) -> None:
        self.passed.setdefault((key, param), []).append(value)

    def _call(self, source: _Source, call: ast.Call, scope: _Scope) -> None:
        # forwarding a ``**`` parameter that no call fills passes nothing
        keywords = [
            k for k in call.keywords
            if not (
                k.arg is None
                and isinstance(k.value, ast.Name)
                and k.value.id in scope.empty
            )
        ]
        for key, skip in self._targets(source, call.func, scope):
            fn = self.functions[key]
            positional, defaults = _params(fn)
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in keywords
            ):
                for param in _all_params(fn):
                    self._record(key, param, _VARIES)
                continue
            given = dict(zip(positional[skip:], call.args))
            given.update((k.arg, k.value) for k in keywords)
            for param in _all_params(fn)[skip:]:
                if param in given:
                    self._record(key, param, self._value(given[param], scope))
                elif param in defaults:
                    self._record(key, param, defaults[param])

    @staticmethod
    def _value(arg: ast.expr, scope: _Scope):
        """A bare parameter name passes its own values through; an
        expression over local names varies; anything else is its
        source text."""
        if isinstance(arg, ast.Name) and arg.id in scope.params:
            owner = scope.params[arg.id]
            return (owner, arg.id) if owner else _VARIES
        names = {n.id for n in ast.walk(arg) if isinstance(n, ast.Name)}
        return _VARIES if names & scope.local else ast.unparse(arg)

    def _visit(self, source: _Source, node, scope: _Scope, prefix) -> None:
        """Record the calls under ``node``; ``prefix`` is the dotted
        name a definition here would have, or None inside a function."""
        if isinstance(node, ast.ClassDef):
            inner = _Scope(node.name, scope.params, scope.local, scope.empty)
            name = f"{prefix}.{node.name}" if prefix else None
            for child in node.body:
                self._visit(source, child, inner, name)
            return
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            key = f"{prefix}.{getattr(node, 'name', '')}" if prefix else None
            inner = scope.enter(
                node,
                key if key in self.functions else None,
                id(node) in self.unfilled,
            )
            for outer in (
                *getattr(node, "decorator_list", ()),
                *node.args.defaults,
                *filter(None, node.args.kw_defaults),
            ):
                self._visit(source, outer, scope, None)
            for child in node.body if isinstance(node.body, list) else [node.body]:
                self._visit(source, child, inner, None)
            return
        children = list(ast.iter_child_nodes(node))
        if isinstance(node, ast.Call):
            self._call(source, node, scope)
            # the callee is called, not passed around: skip its name
            if isinstance(node.func, ast.Attribute):
                children[0] = node.func.value
            elif isinstance(node.func, ast.Name):
                children.pop(0)
        elif isinstance(node, (ast.Name, ast.Attribute)):
            # a function passed around as a value is called unseen
            for key, _ in self._targets(source, node, scope):
                for param in _all_params(self.functions[key]):
                    self._record(key, param, _VARIES)
            children = [node.value] if isinstance(node, ast.Attribute) else []
        for child in children:
            self._visit(source, child, scope, None)

    def values(self, key: str, param: str, seen=frozenset()) -> set:
        """The values the parameter receives, pass-throughs followed."""
        found = set()
        for value in self.passed.get((key, param), ()):
            if isinstance(value, tuple):
                if value not in seen:
                    found |= self.values(*value, seen | {(key, param)})
            else:
                found.add(value)
        return found


def one_value_options(options: _Options | None = None) -> dict[str, str]:
    """``module.function.parameter`` -> the one value every call passes,
    for each defaulted package parameter that receives exactly one."""
    options = options or _Options()
    found = {}
    for key, fn in options.functions.items():
        for param in _params(fn)[1]:
            values = options.values(key, param)
            if len(values) == 1 and _VARIES not in values:
                found[f"{key}.{param}"] = values.pop()
    return found


def _exemption(name: str) -> str | None:
    return next(
        (key for key in ONE_VALUE_BY_DESIGN
         if name == key or name.startswith(key + ".")),
        None,
    )


def test_option_values():
    """A defaulted parameter that every call, tests included, sets to
    one value is a constant: each other value would be a code path no
    caller runs."""
    found = one_value_options()
    flagged = sorted(
        f"{name}={value}" for name, value in found.items() if not _exemption(name)
    )
    assert not flagged, "one value at every call; make it a constant: " + (
        ", ".join(flagged)
    )
    # an exemption that covers no such parameter hides nothing
    used = {_exemption(name) for name in found}
    assert set(ONE_VALUE_BY_DESIGN) <= used, set(ONE_VALUE_BY_DESIGN) - used


def test_option_values_see_through_an_unfilled_kwargs():
    """A helper that forwards a ``**`` parameter no call fills passes
    no keyword, so it cannot hide a one-value option; one call that
    fills it makes the forwarded call vary again."""
    package = _Source(
        ROOT / PACKAGE / "probe.py", "def scale(x, factor=2):\n    return x * factor\n"
    )
    caller = (
        f"from {PACKAGE}.probe import scale\n\n"
        "def helper(x, **kw):\n    return scale(x, **kw)\n\n"
        "def test_a():\n    helper(1)\n    helper(2)\n"
    )

    def flagged(text: str) -> dict[str, str]:
        test = _Source(ROOT / "tests" / "test_probe.py", text)
        graph = _Graph({package.name: package})
        return one_value_options(_Options(graph, [test]))

    assert flagged(caller) == {f"{PACKAGE}.probe.scale.factor": "2"}
    assert flagged(caller + "    helper(3, factor=3)\n") == {}
    assert flagged(caller + "    run(helper)\n") == {}
