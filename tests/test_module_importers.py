"""Every ``wd2sql_spark`` module and top-level definition has a
production user.

A module that only tests or tools import, or a function, class or
constant that only they reference, is production code that only tests
call; these AST scans fail on it. The production roots are the package
itself, ``bench.py``, ``__spark_entry__.py`` and ``perfbench/``;
``tests/`` and ``tools/`` do not count, and a module importing itself
does not either. Counted as used without an importer: the registry's
``_MODULES`` (imported by name), ``__main__`` and ``curate`` (run with
``python -m``), and the parent package of every used module.

A top-level definition counts as referenced when any production root
loads its name, reads it as an attribute or imports it (by name, not by
module: a shared name is a false pass, never a false failure).
``@query``-registered functions (reached through the registry), dunder
names and the user surface in ``ALLOWED`` need no reference.

The same scan keeps the MinHash shape in ``operators/dedup.py``: no other
production file passes it or formats a signature column name.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "wd2sql_spark"


def _py_files(rel_dir: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(ROOT, rel_dir))
        for f in files
        if f.endswith(".py")
    ]


def _module_name(path: str) -> str:
    name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _imported(path: str) -> set[str]:
    """Dotted names the file imports: ``import X``, ``from X import Y``
    (both ``X`` and ``X.Y``, since ``Y`` may be a submodule), relative
    imports resolved, and ``importlib.import_module("X")`` literals."""
    me = _module_name(path).split(".")
    if not path.endswith("__init__.py"):
        me = me[:-1]
    names: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = me[: len(me) - node.level + 1]
                base = ".".join([*parent, base] if base else parent)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "import_module"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            names.add(node.args[0].value)
    return names


# Definitions with no production reference on purpose: name -> reason.
ALLOWED = {
    "wd2sqlite": "README API: the SQLite sink users call",
    "register_sql_function": "user surface: registers the encode_wid SQL function",
    "admission_sink": "user surface: the foreachBatch admission sink for a stream",
    "attach_streaming_progress": "user surface: progress lines for a user's stream",
    "clear_all_session_caches": "user surface: release every memoized relation",
    "write_lsh_store": "the full-rebuild baseline the admission store is checked against",
}


def _production_roots() -> list[str]:
    return [
        *_py_files(PKG),
        *_py_files("perfbench"),
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]


def _registry_modules() -> set[str]:
    tree = _parse(os.path.join(ROOT, PKG, "queries", "registry.py"))
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "_MODULES" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    raise AssertionError("registry._MODULES not found")


def test_every_package_module_has_a_production_importer():
    modules = {_module_name(p) for p in _py_files(PKG)}
    used = {f"{PKG}.__main__", f"{PKG}.curate", *_registry_modules()}
    for path in _production_roots():
        used |= _imported(path) - {_module_name(path)}
    for name in list(used):
        while "." in name:
            name = name.rsplit(".", 1)[0]
            used.add(name)
    orphans = sorted(modules - used)
    assert not orphans, f"modules with no production importer: {orphans}"


def _referenced(path: str) -> set[str]:
    """Names the file loads, reads as attributes or imports by name."""
    names: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
    return names


def _registered(node: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", [])
    )


def _definitions(path: str) -> list[str]:
    """Top-level function, class and constant names of a module."""
    names = []
    for node in _parse(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _registered(node):
                names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_every_package_definition_has_a_production_reference():
    used = set(ALLOWED)
    for path in _production_roots():
        used |= _referenced(path)
    orphans = sorted(
        f"{_module_name(p)}.{name}"
        for p in _py_files(PKG)
        for name in _definitions(p)
        if name not in used
    )
    assert not orphans, f"definitions with no production reference: {orphans}"


# The MinHash shape is one stored format (the band store's layout), owned
# by operators/dedup.py's constants. Outside that module no production
# call passes it and no code formats a signature column name.
# perfbench's frozen ``minhash_band_index(drop, k=16, band_size=4, n=3)``
# is accepted: it passes the constants' own values, which the function
# checks. Oracle SQL text is plain strings and stays independent.
MINHASH_ENTRIES = {
    "minhash_band_index",
    "minhash_signatures_wide",
    "minhash_lsh_pairs",
    "incremental_index_probe",
    "admit_batch",
    "admission_sink",
    "write_lsh_store",
}


def _call_name(node: ast.Call) -> str | None:
    return getattr(node.func, "id", None) or getattr(node.func, "attr", None)


def _formats_mh_column(node: ast.JoinedStr) -> bool:
    return any(
        isinstance(a, ast.Constant) and str(a.value).endswith("mh") and isinstance(b, ast.FormattedValue)
        for a, b in zip(node.values, node.values[1:])
    )


def test_minhash_shape_is_owned_by_dedup():
    from wd2sql_spark.operators.dedup import BAND_SIZE, K, SHINGLE_N

    frozen = {"k": K, "band_size": BAND_SIZE, "n": SHINGLE_N}
    owner = os.path.join(ROOT, PKG, "operators", "dedup.py")
    perfbench = os.path.join(ROOT, "perfbench") + os.sep
    offenders = []
    for path in _production_roots():
        if path == owner:
            continue
        where = os.path.relpath(path, ROOT)
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.JoinedStr) and _formats_mh_column(node):
                offenders.append(f"{where}:{node.lineno} formats an mh column")
            if not (isinstance(node, ast.Call) and _call_name(node) in MINHASH_ENTRIES):
                continue
            name = _call_name(node)
            if name == "minhash_band_index" and len(node.args) > 1:
                offenders.append(f"{where}:{node.lineno} passes the shape positionally")
            for kw in node.keywords:
                if kw.arg not in frozen:
                    continue
                accepted = (
                    path.startswith(perfbench)
                    and name == "minhash_band_index"
                    and isinstance(kw.value, ast.Constant)
                    and kw.value.value == frozen[kw.arg]
                )
                if not accepted:
                    offenders.append(f"{where}:{node.lineno} {name}({kw.arg}=...)")
    assert not offenders, offenders
