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
- Every defaulted parameter of a package def is set to another value
  by some non-test caller, unless :data:`FIXED_OPTIONS` names it with
  its reason (see :func:`unset_options`).

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
    f"{PKG}.operators.similarity.lsh_bucket_col":
        "the Column-expression reference the Arrow bucket kernel is "
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

# Defaulted parameters that no non-test caller sets to another value,
# each kept for a stated reason.
_DEPLOYMENT = "deployment setting: where a cluster run keeps its tables"
_FILTER = ("signature fixed by the decode_stream filter table, which "
           "passes each filter its /DecodeParms")
FIXED_OPTIONS = {
    f"{PKG}.operators.warc.warc_dispatch_spans(stage_dir)": _DEPLOYMENT,
    f"{PKG}.sources.checkpoint.run_incremental(store)": _DEPLOYMENT,
    f"{PKG}.sources.checkpoint.read_output(store)": _DEPLOYMENT,
    f"{PKG}.sources.checkpoint.read_metrics(store)": _DEPLOYMENT,
    f"{PKG}.sources.catalog.IcebergStore.__init__(bucket_key)":
        "deployment setting: the Iceberg bucketing column",
    f"{PKG}.sources.catalog.IcebergStore.__init__(buckets)":
        "deployment setting: the Iceberg bucket count",
    f"{PKG}.operators.multimodal.decode_media(decoder)":
        "test seam: a real codec plugs in here",
    f"{PKG}.operators.pdffile.lzw_encode(early)":
        "test seam: makes the EarlyChange 0 streams lzw_decode reads",
    f"{PKG}.operators.pdffile.flate_decode(parms)": _FILTER,
    f"{PKG}.operators.pdffile.lzw_decode(parms)": _FILTER,
    f"{PKG}.operators.pdffile.ascii_hex_decode(parms)": _FILTER,
    f"{PKG}.operators.pdffile.ascii85_decode(parms)": _FILTER,
    f"{PKG}.operators.pdffile.run_length_decode(parms)": _FILTER,
    f"{PKG}.operators.pdffile.PdfFile._name_tree(seen)":
        "recursion accumulator",
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


class _Def(NamedTuple):
    ident: str                  # module.qualname
    name: str                   # the name a call uses
    module: str
    bound: bool                 # called with the first parameter bound
    positional: list[str]
    defaults: dict[str, ast.expr]
    node: ast.AST


def _package_defs(sources: tuple[Source, ...]) -> list[_Def]:
    """Every def of the package, nested ones and methods included.  A
    class's ``__init__`` is called by the class name."""
    defs = []

    def visit(src, node, qual, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(src, child, qual + [child.name], True)
                continue
            if not isinstance(child, (ast.FunctionDef,
                                      ast.AsyncFunctionDef)):
                visit(src, child, qual, in_class)
                continue
            a = child.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            defaults = dict(zip(positional[len(positional)
                                           - len(a.defaults):], a.defaults))
            defaults.update((x.arg, d) for x, d in
                            zip(a.kwonlyargs, a.kw_defaults)
                            if d is not None)
            static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                         for d in child.decorator_list)
            name = qual[-1] if in_class and child.name == "__init__" \
                else child.name
            defs.append(_Def(".".join([src.module] + qual + [child.name]),
                             name, src.module, in_class and not static,
                             positional, defaults, child))
            visit(src, child, qual + [child.name], False)

    for src in sources:
        if src.rel.startswith(f"{PKG}/"):
            visit(src, src.tree, [], False)
    return defs


def _same(value: ast.expr, default: ast.expr) -> bool:
    if ast.dump(value) == ast.dump(default):
        return True
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
    except ValueError:
        return False
    return type(v) is type(d) and v == d


def _passed(call: ast.Call, d: _Def):
    """(parameter, value) per defaulted parameter of ``d`` that ``call``
    passes; value None stands for a ``*``/``**`` splat."""
    pos = d.positional[1:] if d.bound else d.positional
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            yield from ((p, None) for p in pos[i:] if p in d.defaults)
            break
        if i < len(pos) and pos[i] in d.defaults:
            yield pos[i], a
    for kw in call.keywords:
        if kw.arg is None:
            yield from ((p, None) for p in d.defaults)
        elif kw.arg in d.defaults:
            yield kw.arg, kw.value


def _scopes(node: ast.AST, params: dict, own: dict[int, dict]):
    """(call, parameters in scope) per call under ``node``; the scope
    maps a name to the ``def(parameter)`` it is, or None where it is a
    parameter without a default.  ``own`` maps a package def node to
    its defaulted parameters."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.Lambda)):
            inner = dict(params)
            a = child.args
            args = a.posonlyargs + a.args + a.kwonlyargs \
                + [x for x in (a.vararg, a.kwarg) if x]
            inner.update((x.arg, None) for x in args)
            inner.update(own.get(id(child), {}))
            yield from _scopes(child, inner, own)
            continue
        if isinstance(child, ast.Call):
            yield child, params
        yield from _scopes(child, params, own)


def unset_options(fixed=()) -> list[str]:
    """``module.qualname(parameter)`` per defaulted parameter of a
    package def that no non-test caller sets to a value other than its
    default, by keyword, by position or through a splat, and that is not
    passed through from an enclosing parameter with the same default
    that is set.  Calls are matched by name (a method by its attribute
    name) and keyed by module like the references above; a value
    spelled the same as the default, or equal to it as a literal, does
    not set it.  ``fixed`` counts as set.  Calls from tests count for a
    :data:`TEST_ONLY` reference."""
    sources = _sources()
    defs = _package_defs(sources)
    by_name: dict[str, list[_Def]] = {}
    for d in defs:
        by_name.setdefault(d.name, []).append(d)
    own = {id(d.node): {p: f"{d.ident}({p})" for p in d.defaults}
           for d in defs}
    default_of = {f"{d.ident}({p})": v for d in defs
                  for p, v in d.defaults.items()}
    is_set = set(fixed)
    through = []   # (enclosing parameter, parameter it is passed to)
    for src in sources:
        test = _is_test(src.rel)
        for call, scope in _scopes(src.tree, {}, own):
            f = call.func
            if isinstance(f, ast.Name):
                key = src.imports.get(f.id, (src.module, f.id))
            elif isinstance(f, ast.Attribute):
                key = (_module_of(src, f.value) or "*", f.attr)
            else:
                continue
            for d in by_name.get(key[1], ()):
                if key[0] not in ("*", d.module) or (
                        test and f"{d.module}.{d.name}" not in TEST_ONLY):
                    continue
                if d.bound and isinstance(f, ast.Name) \
                        and not d.ident.endswith(".__init__"):
                    continue
                for p, value in _passed(call, d):
                    target = f"{d.ident}({p})"
                    if value is not None and _same(value, d.defaults[p]):
                        continue
                    outer = scope.get(value.id) \
                        if isinstance(value, ast.Name) else None
                    if outer and _same(default_of[outer], d.defaults[p]):
                        through.append((outer, target))
                    else:
                        is_set.add(target)
    grew = True
    while grew:
        grew = False
        for outer, target in through:
            if outer in is_set and target not in is_set:
                is_set.add(target)
                grew = True
    return sorted(default_of.keys() - is_set)


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []


def test_no_test_only_defs():
    assert sorted(defs_only_tests_call()) == sorted(TEST_ONLY)


def test_no_unread_module_constants():
    assert unread_constants() == []


def test_no_unused_imports():
    assert unused_imports() == []


def test_no_unset_options():
    unset = set(unset_options())
    stale = [o for o in FIXED_OPTIONS if o not in unset]
    assert stale == [], "FIXED_OPTIONS names an option a caller sets"
    assert unset_options(FIXED_OPTIONS) == []
