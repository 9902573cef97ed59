"""Every top-level ``def``/``class`` in the package is referenced by code
somewhere in the tracked Python sources outside its own definition.

A reference is a code reference: a ``Name``, an ``Attribute`` or an
import alias in any tracked ``.py`` file, tests included.  A mention in
a docstring, a comment or a string does not keep a definition alive.
What it catches is code nothing calls at all — the cheapest deletion
there is."""

import ast
import os
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_trees() -> dict[str, ast.Module]:
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    trees = {}
    for rel in out.stdout.split():
        path = os.path.join(REPO, rel)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                trees[rel] = ast.parse(f.read())
    return trees


def _references(tree: ast.AST) -> Counter:
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
    return refs


def unreferenced_defs() -> list[str]:
    trees = _tracked_trees()
    refs = sum((_references(t) for t in trees.values()), Counter())
    dead = []
    for rel, tree in trees.items():
        if not rel.startswith("pdf_extraction_spark/"):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if refs[node.name] == _references(node)[node.name]:
                dead.append(f"{rel}:{node.lineno} {node.name}")
    return dead


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []
