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
    # per-section plans the one-plan analysis and report read path is
    # checked against
    "due_this_week": "oracle",
    "overdue": "oracle",
    "overdue_top_by_priority": "oracle",
    "oldest_pending": "oracle",
    "next_by_priority": "oracle",
    "uncategorized": "oracle",
    "status_priority_counts": "oracle",
    "completion_velocity": "oracle",
    "created_per_week": "oracle",
    "clean_task_list": "oracle",
    "completed_in_period": "oracle",
    "in_progress": "oracle",
    "goals": "oracle",
    "compact_files": "not yet reviewed",
    "compact_store": "not yet reviewed",
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


def public_definitions() -> set[str]:
    """Public top-level functions and classes of the package, minus the
    registered parity queries."""
    defs = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _is_registered(node)
            ):
                defs.add(node.name)
    return defs


def referenced_names() -> set[str]:
    refs = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            # a definition's own name (recursion) is not a caller
            refs |= _names(node) - {getattr(node, "name", None)}
    outside = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("perfbench", "scripts"):
        outside += [p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts]
    for path in outside:
        refs |= _names(ast.parse(path.read_text()), strings=True)
    return refs


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
