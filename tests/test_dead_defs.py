"""Dead-code scans over the tracked Python sources.

- Every top-level ``def``/``class`` in the package is referenced
  somewhere outside its own body, tests included.
- It is also referenced by something that is not a test (the package,
  ``tools/``, ``bench.py``, ``__spark_entry__.py``, ``perfbench/``),
  unless :data:`TEST_ONLY` names it with its reason.
- Every module-level constant in the package is read somewhere.
- Every import in the package, ``tools/``, ``bench.py`` and
  ``__spark_entry__.py`` is used in its module or imported from it
  elsewhere.

A reference is a code reference: a ``Name``, an ``Attribute`` or an
import alias.  A mention in a docstring, a comment or a string does
not keep anything alive.  References are keyed by the module that
defines the name, so ``vr.validate_estimate`` names
``validation_rules``' def and not a same-named def elsewhere; an
attribute of something that is not a known module (``obj.name``)
matches every def of that name."""

import ast
import os
import re
import subprocess
from collections import Counter
from functools import cache
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdf_extraction_spark"

# Package defs that only tests call, each kept for a stated reason.
TEST_ONLY = {
    f"{PKG}.operators.dedup.minhash_signature":
        "the Column-expression reference the Arrow MinHash kernel is "
        "tested against",
    f"{PKG}.operators.dedup.topk_shingle_hashes":
        "the Column-expression reference the Arrow shingle kernel is "
        "tested against",
    f"{PKG}.operators.similarity.cosine_col":
        "the Column-expression reference the Arrow cosine kernel is "
        "tested against",
    f"{PKG}.operators.tables.ruled_rows_as_spans":
        "the only bridge from html_table_rows and ruled_table_rows "
        "into S5",
    f"{PKG}.validation_rules.validate_estimate":
        "the pure-python reference the with_validation column form is "
        "tested against",
}

# ``__spark_entry__._MODULES`` reads these dicts by string.
_READ_BY_NAME = re.compile(r"__all__|(QUERIES|ORACLES)(_\w+)?")


class Source(NamedTuple):
    rel: str
    module: str
    tree: ast.Module
    imports: dict  # local name -> (module, attribute or None)


def _module_name(rel: str) -> str:
    parts = rel[:-3].split("/")
    if parts[0] != PKG:
        return parts[-1]  # tools/ and perfbench/ import each other by stem
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _is_test(rel: str) -> bool:
    return rel.startswith("tests/") or rel.startswith("perfbench/test_")


def _bindings(node: ast.AST, rel: str, module: str, modules: set[str]):
    """(local name, (module, attribute or None)) per alias of an import
    statement; attribute None means the name is bound to a module."""
    if isinstance(node, ast.Import):
        for a in node.names:
            if a.asname:
                yield a.asname, (a.name, None)
            else:
                head = a.name.split(".")[0]
                yield head, (head, None)
        return
    src = node.module or ""
    if node.level:
        base = module.split(".")
        if not rel.endswith("__init__.py"):
            base.pop()
        base = base[:len(base) - node.level + 1]
        src = ".".join(base + ([node.module] if node.module else []))
    for a in node.names:
        sub = f"{src}.{a.name}"
        yield a.asname or a.name, (sub, None) if sub in modules \
            else (src, a.name)


@cache
def _sources() -> tuple[Source, ...]:
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    files = {}
    for rel in out.stdout.split():
        path = os.path.join(REPO, rel)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                files[rel] = ast.parse(f.read())
    modules = {_module_name(rel) for rel in files}
    sources = []
    for rel, tree in files.items():
        module = _module_name(rel)
        imports = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                imports.update(_bindings(node, rel, module, modules))
        sources.append(Source(rel, module, tree, imports))
    return tuple(sources)


def _module_of(src: Source, node: ast.AST) -> str | None:
    """The module ``node`` evaluates to, if it names one."""
    if isinstance(node, ast.Name):
        mod, attr = src.imports.get(node.id, (None, None))
        return mod if attr is None else None
    if isinstance(node, ast.Attribute):
        owner = _module_of(src, node.value)
        return f"{owner}.{node.attr}" if owner else None
    return None


def _references(src: Source, node: ast.AST) -> Counter:
    """Reads under ``node``, keyed (defining module, name); ``"*"``
    stands for any module."""
    refs = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[src.imports.get(n.id, (src.module, n.id))] += 1
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            refs[(_module_of(src, n.value) or "*", n.attr)] += 1
        elif isinstance(n, ast.ImportFrom):
            refs.update(target for _, target in _bindings(
                n, src.rel, src.module, {src.module}))
    return refs


def _count(refs: Counter, module: str, name: str) -> int:
    return refs[(module, name)] + refs[("*", name)]


def _package_names(sources: tuple[Source, ...], kinds: tuple):
    """(source, node, name) per top-level statement of ``kinds`` in
    the package; an assignment yields each name it binds."""
    for src in sources:
        if not src.rel.startswith(f"{PKG}/"):
            continue
        for node in src.tree.body:
            if not isinstance(node, kinds):
                continue
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) \
                    else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) \
                                and isinstance(n.ctx, ast.Store):
                            yield src, node, n.id
            else:
                yield src, node, node.name


@cache
def _statement_refs() -> dict[str, list[Counter]]:
    """Per source, the references of each top-level statement."""
    return {src.rel: [_references(src, node) for node in src.tree.body]
            for src in _sources()}


def _file_refs(src: Source) -> Counter:
    return sum(_statement_refs()[src.rel], Counter())


def _scan(kinds: tuple, code_only: bool) -> list[str]:
    """``module.name`` per package name of ``kinds`` that nothing reads
    outside its own statement — nothing but tests, with ``code_only``."""
    sources = _sources()
    refs = Counter()
    for src in sources:
        if not (code_only and _is_test(src.rel)):
            refs += _file_refs(src)
    dead = []
    for src, node, name in _package_names(sources, kinds):
        own = _statement_refs()[src.rel][src.tree.body.index(node)]
        if _count(refs, src.module, name) == _count(own, src.module, name):
            dead.append(f"{src.module}.{name}")
    return dead


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreferenced_defs() -> list[str]:
    return _scan(_DEFS, code_only=False)


def defs_only_tests_call() -> list[str]:
    unreferenced = set(unreferenced_defs())
    return [d for d in _scan(_DEFS, code_only=True)
            if d not in unreferenced]


def unread_constants() -> list[str]:
    return [c for c in _scan((ast.Assign, ast.AnnAssign), code_only=False)
            if not _READ_BY_NAME.fullmatch(c.rsplit(".", 1)[1])]


def unused_imports() -> list[str]:
    sources = _sources()
    imported = Counter()  # (module, name) read from another module
    for src in sources:
        for (mod, name), n in _file_refs(src).items():
            if mod != src.module:
                imported[(mod, name)] += n
    unused = []
    for src in sources:
        if not (src.rel.startswith(f"{PKG}/") or src.rel.startswith("tools/")
                or src.rel in ("bench.py", "__spark_entry__.py")):
            continue
        if src.rel.endswith("__init__.py"):
            continue  # a package's imports are its re-exports
        names = {n.id for n in ast.walk(src.tree)
                 if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        exported = set()
        for node in src.tree.body:
            if isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__"
                    for t in node.targets):
                exported |= set(ast.literal_eval(node.value))
        for node in ast.walk(src.tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) \
                    and node.module == "__future__":
                continue
            for local, _ in _bindings(node, src.rel, src.module, set()):
                if not (local in names or local in exported
                        or imported[(src.module, local)]):
                    unused.append(f"{src.rel}:{node.lineno} {local}")
    return unused


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []


def test_no_test_only_defs():
    assert sorted(defs_only_tests_call()) == sorted(TEST_ONLY)


def test_no_unread_module_constants():
    assert unread_constants() == []


def test_no_unused_imports():
    assert unused_imports() == []
