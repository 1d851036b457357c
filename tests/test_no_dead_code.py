"""Dead-code guard: every ``def`` and ``class`` in the engine package is used.

Pure Python, no Spark session. Each function, method and class defined under
``go_distributed_log_search_spark/`` must be referred to somewhere in the
repository's ``.py`` files: as a name or attribute in code, as an imported
name, or as an identifier inside a string literal (``getattr`` targets,
name registries). Docstrings and comments are not uses — a function that
only its own documentation mentions is still dead. ``__dunder__`` names are
exempt. To keep a definition nothing calls, add its name to ``ALLOWED`` with
a comment saying why.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "go_distributed_log_search_spark"
ALLOWED: frozenset[str] = frozenset()

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _repo_sources() -> list[Path]:
    """The repository's .py files, minus hidden dirs and Spark output."""
    return [
        p
        for p in REPO.rglob("*.py")
        if not any(
            part.startswith(".") or part == "spark-warehouse"
            for part in p.relative_to(REPO).parts[:-1]
        )
    ]


def _docstrings(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _uses(tree: ast.Module) -> set[str]:
    docs = _docstrings(tree)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            names.update(_IDENT.findall(node.value))
    return names


def _unused_definitions() -> list[str]:
    used: set[str] = set()
    defs: list[tuple[str, Path, int]] = []
    for path in _repo_sources():
        tree = ast.parse(path.read_text(), str(path))
        used |= _uses(tree)
        if PACKAGE in path.parents:
            defs += [
                (node.name, path, node.lineno)
                for node in ast.walk(tree)
                if isinstance(node, _DEFS)
            ]
    return [
        f"{path.relative_to(REPO)}:{line} {name}"
        for name, path, line in defs
        if name not in used
        and name not in ALLOWED
        and not (name.startswith("__") and name.endswith("__"))
    ]


def test_every_definition_is_used():
    assert _unused_definitions() == []


def test_guard_sees_a_docstring_only_mention():
    """A name mentioned only in a docstring is not a use; one named in a
    non-docstring string literal is."""
    tree = ast.parse(
        'def f():\n    """see g"""\n    return getattr(obj, "h")\n'
    )
    uses = _uses(tree)
    assert "h" in uses and "obj" in uses
    assert "g" not in uses
