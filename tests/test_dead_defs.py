"""Every top-level ``def``/``class`` in the package is referenced
somewhere in the tracked Python sources outside its own definition.

A word scan, not an import graph: a name that appears anywhere else
(a call, an import, a registry string, a docstring of another
definition) counts as used.  What it catches is code nothing names at
all — the cheapest deletion there is."""

import ast
import os
import re
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_sources() -> dict[str, list[str]]:
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    srcs = {}
    for rel in out.stdout.split():
        path = os.path.join(REPO, rel)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                srcs[rel] = f.read().splitlines()
    return srcs


def unreferenced_defs() -> list[str]:
    srcs = _tracked_sources()
    words = Counter(w for text in srcs.values() for line in text
                    for w in re.findall(r"\w+", line))
    dead = []
    for rel, lines in srcs.items():
        if not rel.startswith("pdf_extraction_spark/"):
            continue
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            start = node.lineno - 1 - len(node.decorator_list)
            own = sum(re.findall(r"\w+", line).count(node.name)
                      for line in lines[start:node.end_lineno])
            if words[node.name] == own:
                dead.append(f"{rel}:{node.lineno} {node.name}")
    return dead


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []
