"""Guard: every public top-level function and class in ``notion_spark/`` has
a caller outside the tests.

A name counts as called when it is referenced by name, attribute or import
from ``notion_spark/`` (outside its own definition), ``perfbench/``,
``scripts/``, ``bench.py`` or ``__spark_entry__.py``. A local variable or
parameter that shares the name is not a reference. Outside the package a
string equal to the name counts too, because the traced benchmark binds
functions by ``getattr``. Parity queries are called through the registry
their ``@register`` decorator fills. References from ``tests/`` do not
count: code only a test calls is deleted with its test, or listed in
ALLOWED with the reason it stays.

The same calls decide the options: every ``bool``-defaulted parameter of
a public top-level function must be passed, by keyword or by position, at
one of them, or be listed in ALLOWED_FLAGS with its reason. A flag no
caller sets selects a code path only tests take. Public top-level names
other than the registered queries are unique across the package, since
a second definition with the same name would hide the first one's
missing callers.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "notion_spark"
REASONS = {"reference step", "test fake", "test metric", "oracle", "not yet reviewed"}

ALLOWED = {
    # steps of the reference sync with no package caller yet
    "pad_schema": "reference step",
    "read_tasks_csv": "reference step",
    "check_schema_health": "reference step",
    "read_attachment_files": "reference step",
    "download_attachments": "reference step",
    "FixtureClient": "test fake",
    "recall_at_k": "test metric",
    # reference forms that tests compare kept code against
    "dot_unrolled": "oracle",
    "norm_unrolled": "oracle",
    "jaccard_pairs": "oracle",
    "levenshtein_pairs": "oracle",
    "compact_files": "not yet reviewed",
    "compact_store": "not yet reviewed",
}

ALLOWED_FLAGS = {
    # the all-pairs paths the blocked paths are checked against
    "levenshtein_pairs.length_bands": "oracle",
    "embedding_dup_pairs.allow_all_pairs": "oracle",
}


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", ())
    )


_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
_COMPREHENSIONS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _local_bindings(scope: ast.AST) -> set[str]:
    """Names a function or comprehension binds for its own body: a
    comprehension's targets; a function's parameters and every name it
    assigns, loops over, catches or defines outside its nested scopes,
    minus its ``global`` declarations."""
    if isinstance(scope, _COMPREHENSIONS):
        return {
            n.id for g in scope.generators for n in ast.walk(g.target) if isinstance(n, ast.Name)
        }
    a = scope.args
    out = {p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg) if p}
    globals_ = set()
    stack = list(scope.body) if isinstance(scope.body, list) else [scope.body]
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.ExceptHandler) and n.name:
            out.add(n.name)
        elif isinstance(n, ast.Global):
            globals_.update(n.names)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(n.name)
        elif not isinstance(n, (*_FUNCTIONS, *_COMPREHENSIONS)):
            stack.extend(ast.iter_child_nodes(n))
    return out - globals_


def _names(node: ast.AST, strings: bool = False) -> set[str]:
    """Names ``node`` refers to. Inside a function a name the function
    binds itself (a parameter, an assignment, a loop or comprehension
    target, a lambda argument) is a local, not a reference."""
    out = set()
    stack = [(node, frozenset())]
    while stack:
        n, bound = stack.pop()
        if isinstance(n, (*_FUNCTIONS, *_COMPREHENSIONS)):
            bound = bound | _local_bindings(n)
        stack.extend((c, bound) for c in ast.iter_child_nodes(n))
        if isinstance(n, ast.Name):
            if n.id not in bound:
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def package_trees() -> list[ast.Module]:
    return [ast.parse(p.read_text()) for p in PACKAGE.rglob("*.py")]


def outside_trees() -> list[ast.Module]:
    """The callers outside the package: the benchmark, the scripts, the
    bench CLI and the driver entry point."""
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("perfbench", "scripts"):
        paths += [p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts]
    return [ast.parse(p.read_text()) for p in paths]


def _public_defs(tree: ast.Module):
    """Public top-level functions and classes of a module, minus the
    registered parity queries."""
    for node in tree.body:
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.name.startswith("_")
            and not _is_registered(node)
        ):
            yield node


def public_definitions() -> set[str]:
    return {node.name for tree in package_trees() for node in _public_defs(tree)}


def referenced_names() -> set[str]:
    refs = set()
    for tree in package_trees():
        for node in tree.body:
            # a definition's own name (recursion) is not a caller
            refs |= _names(node) - {getattr(node, "name", None)}
    for tree in outside_trees():
        refs |= _names(tree, strings=True)
    return refs


def duplicate_names(package: list[ast.Module]) -> set[str]:
    seen, dups = set(), set()
    for tree in package:
        for node in _public_defs(tree):
            (dups if node.name in seen else seen).add(node.name)
    return dups


def unset_flags(package: list[ast.Module], outside: list[ast.Module]) -> set[str]:
    """``function.parameter`` for every bool-defaulted parameter of a
    public top-level function that no call outside its own definition
    passes, by keyword or by position."""
    params, flags = {}, set()
    for tree in package:
        for node in _public_defs(tree):
            if isinstance(node, ast.ClassDef):
                continue
            a = node.args
            positional = [p.arg for p in (*a.posonlyargs, *a.args)]
            params[node.name] = positional
            defaults = zip(positional[len(positional) - len(a.defaults):], a.defaults)
            for name, d in (*defaults, *((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults))):
                if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                    flags.add(f"{node.name}.{name}")
    passed = set()
    scopes = [(node, node) for tree in package for node in tree.body]
    scopes += [(tree, None) for tree in outside]
    for scope, own in scopes:
        for n in ast.walk(scope):
            if not isinstance(n, ast.Call):
                continue
            fn = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            if fn not in params or fn == getattr(own, "name", None):
                continue
            passed |= {f"{fn}.{k.arg}" for k in n.keywords if k.arg}
            passed |= {f"{fn}.{p}" for p in params[fn][: len(n.args)]}
    return flags - passed


def test_every_public_name_has_a_caller_outside_tests():
    uncalled = public_definitions() - referenced_names()
    unlisted = sorted(uncalled - set(ALLOWED))
    assert not unlisted, (
        f"called only from tests (delete with its test, or list in ALLOWED): {unlisted}"
    )


def test_allowlist_stays_true():
    defs = public_definitions()
    refs = referenced_names()
    assert set(ALLOWED.values()) <= REASONS
    gone = sorted(set(ALLOWED) - defs)
    assert not gone, f"ALLOWED names that no longer exist: {gone}"
    called = sorted(set(ALLOWED) & refs)
    assert not called, f"ALLOWED names that now have a caller: {called}"


def test_every_flag_is_set_outside_tests():
    unset = unset_flags(package_trees(), outside_trees())
    assert set(ALLOWED_FLAGS.values()) <= REASONS
    unlisted = sorted(unset - set(ALLOWED_FLAGS))
    assert not unlisted, (
        f"flags no caller outside tests sets (delete with the path they select,"
        f" or list in ALLOWED_FLAGS): {unlisted}"
    )
    stale = sorted(set(ALLOWED_FLAGS) - unset)
    assert not stale, f"ALLOWED_FLAGS entries that are gone or now set: {stale}"


def test_public_names_are_unique():
    dups = sorted(duplicate_names(package_trees()))
    assert not dups, f"public names defined more than once in the package: {dups}"


def test_an_unset_flag_is_found_and_a_set_one_is_not():
    package = [ast.parse("""
def scan(df, strict: bool = False, *, fast: bool = True, n: int = 1):
    return scan(df, strict=True, fast=False)

def run(df):
    return scan(df)
""")]
    assert unset_flags(package, []) == {"scan.strict", "scan.fast"}
    by_position = [ast.parse("scan(df, True)")]
    assert unset_flags(package, by_position) == {"scan.fast"}
    by_keyword = [ast.parse("m.scan(df, fast=False)")]
    assert unset_flags(package, by_keyword) == {"scan.strict"}


def test_a_name_defined_twice_is_found():
    a = ast.parse("def write_bucketed(df):\n    pass\n\ndef _private():\n    pass\n")
    b = ast.parse("def write_bucketed(df, n):\n    pass\n\ndef _private():\n    pass\n")
    assert duplicate_names([a, b]) == {"write_bucketed"}
    assert duplicate_names([a]) == set()


def test_a_local_named_like_a_public_function_is_not_a_caller():
    shadowed = """
def render(rows, goals):
    kept = [goals for goals in rows]
    key = lambda goals: goals
    for goals in rows:
        pass
    return goals, kept, key
"""
    assert "goals" not in _names(ast.parse(shadowed))
    called = """
def render(rows):
    return goals(rows)
"""
    assert "goals" in _names(ast.parse(called))
