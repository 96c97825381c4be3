"""Every top-level definition in ``scanner_spark/`` is reached from code.

A name counts as reached when some tracked ``.py`` file reads it: a name
load, an attribute, or a string literal that is exactly the name (the
``getattr`` / ``monkeypatch.setattr`` spelling).  Its own definition, an
import that re-exports it and an ``__all__`` entry do not count, and
neither do comments or prose in docstrings.  A definition that only
tests reach passes; delete what nothing reaches instead of keeping it
"for later".
"""

import ast
import collections
import os
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_py_files() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout: the tracked file list is unknown")
    return out.split()


def _all_strings(tree: ast.Module) -> set[int]:
    """ids of the string nodes inside ``__all__ = [...]`` assignments."""
    ids = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            ids.update(id(n) for n in ast.walk(node.value))
    return ids


def _uses(tree: ast.Module) -> collections.Counter:
    skip = _all_strings(tree)
    uses = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            uses[node.id] += 1
        elif isinstance(node, ast.Attribute):
            uses[node.attr] += 1
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
            and id(node) not in skip
        ):
            uses[node.value] += 1
    return uses


def _definitions(tree: ast.Module) -> list[tuple[int, str]]:
    defs = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [n.id for t in node.targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        defs += [(node.lineno, n) for n in names if not (n.startswith("__") and n.endswith("__"))]
    return defs


def test_every_product_definition_is_referenced():
    uses = collections.Counter()
    defs = []
    for path in _tracked_py_files():
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        uses.update(_uses(tree))
        if path.startswith("scanner_spark/"):
            defs += [(path, line, name) for line, name in _definitions(tree)]
    assert defs, "no scanner_spark definitions found"
    dead = [f"{path}:{line} {name}" for path, line, name in defs if not uses[name]]
    assert not dead, "referenced nowhere:\n" + "\n".join(dead)
