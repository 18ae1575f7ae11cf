"""Import hygiene: every import in the package, ``tests/``, ``tools/`` and
``bench.py`` is used by the scope that makes it (its nested scopes
included). No linter ships with the toolchain, so this walks the sources
with ``ast``. A name used only inside a string annotation
(``state: "GroupState"``) counts as used; modules that re-export names
list them in ``RE_EXPORTS``."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "user_behavior_spark_pipeline_spark"

# file (relative to the repo root) -> names it imports only to re-export
RE_EXPORTS = {
    f"{PACKAGE}/functions/__init__.py": {
        "money_e4",
        "normalized",
        "dot_product",
        "l2_norm",
        "lsh_signature_col",
        "tokens_col",
        "ref_event_columns",
    },
    f"{PACKAGE}/sources/__init__.py": {"TABLES", "load_table", "register_all"},
    f"{PACKAGE}/operators/bpe.py": {"TEMPLATE_TOKENS"},
}

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _sources() -> list[str]:
    out = ["bench.py"]
    for top in (PACKAGE, "tests", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            out += [
                os.path.relpath(os.path.join(dirpath, f), ROOT)
                for f in sorted(filenames)
                if f.endswith(".py")
            ]
    return out


def _own_imports(scope: ast.AST):
    """(bound name, line) of each import made directly in ``scope``, not
    in a function, class or lambda nested in it."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, _SCOPES):
            continue
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield (alias.asname or alias.name.split(".")[0]), node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for alias in node.names:
                yield (alias.asname or alias.name), node.lineno
        todo.extend(ast.iter_child_nodes(node))


def _annotations(node: ast.AST):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        a = node.args
        for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
            if arg is not None and arg.annotation is not None:
                yield arg.annotation
        if node.returns is not None:
            yield node.returns
    elif isinstance(node, ast.AnnAssign):
        yield node.annotation


def _used_names(nodes) -> set[str]:
    """Every name loaded anywhere under ``nodes``, with the strings inside
    annotations parsed as expressions."""
    used = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add(node.id)
            for ann in _annotations(node):
                for c in ast.walk(ann):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        used |= _used_names([ast.parse(c.value, mode="eval")])
    return used


def unused_imports(source: str, allowed=frozenset()) -> list[tuple[str, int]]:
    """(name, line) of each import its scope never uses. A scope's uses are
    read from its body; its own annotations, defaults and decorators are
    evaluated in the enclosing scope."""
    tree = ast.parse(source)
    found = []
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _SCOPES))]:
        used = None
        for name, line in _own_imports(scope):
            if name in allowed:
                continue
            if used is None:
                body = scope.body
                used = _used_names(body if isinstance(body, list) else [body])
            if name not in used:
                found.append((name, line))
    return sorted(found, key=lambda t: t[1])


def test_checker_sees_scopes_and_string_annotations():
    src = (
        "import os\n"
        "import sys\n"
        "def f():\n"
        "    import json\n"
        "    from typing import Any\n"
        "    def g(x: 'list[Any]'):\n"
        "        import re\n"
        "        def h(y: 're.Pattern'):\n"
        "            return os.sep\n"
        "        return h\n"
        "    return g\n"
    )
    assert unused_imports(src) == [("sys", 2), ("json", 4)]


def test_no_unused_imports():
    offenders = []
    for path in _sources():
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            source = f.read()
        allowed = RE_EXPORTS.get(path, frozenset())
        offenders += [
            f"{path}:{line} {name}"
            for name, line in unused_imports(source, allowed)
        ]
    assert offenders == []
