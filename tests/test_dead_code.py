"""A static guard against package code that only tests reach.

A top-level function or class of ``data_profiler_spark`` is *reached* when a
name it defines is referenced from code that runs outside the tests: the
entry points, scripts, benchmarks, tools, the package's module-level code,
the registry-decorated constraint compilers and queries, and (transitively)
the bodies of reached definitions. Matching is by name, so a name shared by
two modules keeps both alive: the guard can miss dead code, never flag live
code. Prose does not count: a name in a docstring or comment reaches nothing.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "data_profiler_spark"
# Code that runs outside the tests, besides the package itself.
ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "scripts", "perfbench",
                "benchmarks", "tools")
# Decorators that register a definition where a registry reaches it by key.
REGISTRIES = {"register", "register_query"}

# Kept although only tests call them; their helpers are reached through them.
ALLOWED_TEST_ONLY = {
    # operators/autoprofile.py is the reference's BasicDatasetProfiler /
    # UserConfigurableProfiler, the profiling half of the engine
    "build_suite_from_profile",
    "build_basic_suite_from_profile",
    # the pure-Column PQ encode, the reference the numpy encode in
    # pq_encode is asserted against
    "_pq_encode_expr",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` may refer to: names, attributes, imported
    names, and identifier-like string constants (``getattr(mod, "name")``)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id in REGISTRIES
        for d in getattr(node, "decorator_list", ())
    )


def unreached(package: dict[str, str], entry: list[str],
              roots: set[str] = frozenset()) -> set[str]:
    """``module:name`` of every top-level definition in ``package`` (module
    name -> source) that neither the ``entry`` sources, nor the package's
    module-level code, nor a registered or reached definition refers to.
    Definitions named in ``roots`` count as reached."""
    defs: dict[str, ast.AST] = {}
    live_names = set(roots)
    for src in entry:
        live_names |= _names(ast.parse(src))
    for module, src in package.items():
        for node in ast.parse(src).body:
            if not isinstance(node, _DEFS):
                live_names |= _names(node)
            elif _registered(node):
                live_names |= _names(node)
            else:
                defs[f"{module}:{node.name}"] = node
    pending = dict(defs)
    grew = True
    while grew:
        grew = False
        for key, node in list(pending.items()):
            if node.name in live_names:
                del pending[key]
                live_names |= _names(node)
                grew = True
    return set(pending)


def test_scan_flags_a_probe():
    """``dead`` and its helper ``_hash`` are reached from no entry point;
    ``live`` is, ``_used`` through ``live``, ``q_x`` is registered, ``rec``
    only calls itself, and ``kept`` is a root."""
    package = {
        "pkg.mod": (
            "from pkg.registry import register_query\n"
            "def _hash(x):\n    return x\n"
            "def dead(x):\n    return _hash(x)\n"
            "def _used(x):\n    '''not dead, rec'''\n    return x\n"
            "def live(x):\n    return _used(x)\n"
            "@register_query('x', None)\n"
            "def q_x(spark, d):\n    return _used(d)\n"
            "def rec(n):\n    return rec(n - 1) if n else 0\n"
            "class kept:\n    pass\n"
        ),
    }
    entry = ["from pkg.mod import live\nlive(1)  # dead\n"]
    assert unreached(package, entry, {"kept"}) == {
        "pkg.mod:dead", "pkg.mod:_hash", "pkg.mod:rec",
    }
    # a reference from an entry point, by name or by string, reaches it
    assert unreached(package, entry + ["getattr(m, 'dead')"], {"kept"}) == {
        "pkg.mod:rec",
    }
    assert unreached(package, entry) == {
        "pkg.mod:dead", "pkg.mod:_hash", "pkg.mod:rec", "pkg.mod:kept",
    }


def test_no_package_code_only_tests_reach():
    """Every top-level package function and class is reached from code that
    runs outside the tests; delete code the scan finds with its tests."""
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 20
    package = {
        ".".join(m.relative_to(REPO).with_suffix("").parts): m.read_text()
        for m in modules
    }
    entry: list[str] = []
    for name in ENTRY_POINTS:
        p = REPO / name
        entry += [f.read_text() for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]
    assert unreached(package, entry, ALLOWED_TEST_ONLY) == set()
