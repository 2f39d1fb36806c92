"""Every definition in ``streaming/`` and in each query module that
registers a query is reached from non-test code.

A stdlib-``ast`` scan in the style of ``test_unused_imports.py``: each
top-level ``def``, ``class`` or single-name assignment in
``odp_dynamic_data_pipeline_spark/streaming/`` and in every
``queries/*.py`` with a ``@register``-decorated query (found by scanning,
so a new query module is covered without editing this file), and each
non-dunder method of a top-level class, must be referenced from non-test
code: the package, ``perfbench/``, ``tools/`` and ``__spark_entry__.py``.

Top-level names resolve by module.  A name defined in module ``M`` counts
as reached only if ``M`` itself names it outside the definition's own span
(so recursion does not count) in a scope where the name binds to the
module (stdlib ``symtable``: a function-local import or assignment of the
same name shadows it), another file imports it with ``from M
import name`` (directly or through a package ``__init__`` that re-exports
it), or another file names ``X.name`` with ``X`` an alias of module ``M``.
A package ``__init__``'s own re-exports do not count as uses.  Methods are
matched by name, so a method counts as reached when any non-test code
names that attribute.  A ``@register``-decorated query counts as reached:
the registry calls it by name lookup, so only the helpers and constants
it uses must be found by the scan.  Code that only tests call does not
belong in the streaming surface, and a query module keeps no helper that
its queries stopped using."""

from __future__ import annotations

import ast
import pathlib
import symtable

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
STREAMING = ROOT / "odp_dynamic_data_pipeline_spark" / "streaming"
QUERIES = ROOT / "odp_dynamic_data_pipeline_spark" / "queries"


def non_test_sources() -> list[pathlib.Path]:
    files = sorted(STREAMING.parent.rglob("*.py"))
    files += sorted((ROOT / "perfbench").rglob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return [p for p in files if not p.name.startswith("test_")]


def _root(path: pathlib.Path) -> pathlib.Path:
    """Import root of a file: the first ancestor directory that is not a
    package."""
    d = path.parent
    while (d / "__init__.py").is_file():
        d = d.parent
    return d


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(_root(path)).with_suffix("").parts)
    if parts[-1] == "__init__" and len(parts) > 1:
        parts.pop()
    return ".".join(parts)


def _find(module: str, path: pathlib.Path) -> pathlib.Path | None:
    """File of ``module`` as imported from ``path``: looked up under the
    importing file's root, then the repo root (scripts put it on sys.path)."""
    for root in (_root(path), ROOT):
        base = root.joinpath(*module.split("."))
        for f in (base.with_suffix(".py"), base / "__init__.py"):
            if f.is_file():
                return f
    return None


def _import_base(node: ast.ImportFrom, path: pathlib.Path) -> str:
    """Absolute module of ``from <base> import ...``, relative levels resolved
    against the importing file's package."""
    if not node.level:
        return node.module or ""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    pkg = pkg[: len(pkg) - (node.level - 1)]
    return ".".join(pkg + ([node.module] if node.module else []))


def _resolve(module: str, name: str, path: pathlib.Path) -> tuple[str, str]:
    """Follow package ``__init__`` re-exports (``from .m import name``) to
    the module that defines ``name``."""
    init = _find(module, path)
    if init is not None and init.name == "__init__.py":
        for node in ast.parse(init.read_text()).body:
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if (a.asname or a.name) == name:
                        base = _import_base(node, init)
                        if _find(f"{base}.{a.name}", init) is None:
                            return _resolve(base, a.name, init)
    return module, name


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return f"{head}.{node.attr}" if head else None
    return None


def _module_refs(path: pathlib.Path) -> set[tuple[str, str]]:
    """(module, name) pairs ``path`` reaches: each ``from M import name``
    and each ``X.name`` with ``X`` an alias of module ``M``, re-exports
    followed.  A package ``__init__``'s own top-level ``from M import name``
    is a re-export, not a use."""
    tree = ast.parse(path.read_text())
    reexports = set(tree.body) if path.name == "__init__.py" else set()
    aliases: dict[str, str] = {}
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                aliases[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(node, path)
            for a in node.names:
                if _find(f"{base}.{a.name}", path) is not None:
                    aliases[a.asname or a.name] = f"{base}.{a.name}"
                elif node not in reexports:
                    out.add(_resolve(base, a.name, path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and (module := aliases.get(_dotted(node.value))):
            out.add(_resolve(module, node.attr, path))
    return out


def _references(path: pathlib.Path) -> list[tuple[str, int]]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.extend((a.name.split(".")[-1], node.lineno) for a in node.names)
    return out


FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _module_scope_uses(path: pathlib.Path) -> list[tuple[str, int]]:
    """(name, first line of the scope) for each scope of ``path`` that
    reads a module-level name; the module body counts as line 0.  Resolved
    with stdlib ``symtable``: a name that a function imports, assigns or
    takes as a parameter is local there, one bound in an enclosing
    function is free, and neither is a use of the module's name.  Names in
    annotations, which ``symtable`` skips under postponed evaluation,
    count at their own line."""
    source = path.read_text()
    nodes = list(ast.walk(ast.parse(source)))
    hints = [n.annotation for n in nodes if isinstance(n, (ast.arg, ast.AnnAssign)) and n.annotation]
    hints += [n.returns for n in nodes if isinstance(n, FUNCS) and n.returns]
    out = [(n.id, n.lineno) for h in hints for n in ast.walk(h) if isinstance(n, ast.Name)]

    def walk(table: symtable.SymbolTable) -> None:
        module = table.get_type() == "module"
        out.extend(
            (sym.get_name(), table.get_lineno())
            for sym in table.get_symbols()
            if sym.is_referenced() and (module or sym.is_global())
        )
        for child in table.get_children():
            walk(child)

    walk(symtable.symtable(source, str(path), "exec"))
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _definitions(tree: ast.Module):
    """(qualified name, node) of each top-level def, class and non-dunder
    single-name assignment, and of each non-dunder method of a top-level
    class."""
    for node in tree.body:
        if isinstance(node, (*FUNCS, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and not _is_dunder(t.id):
                    yield t.id, node
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, FUNCS) and not _is_dunder(m.name):
                    yield f"{node.name}.{m.name}", m


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


def unreached(defining: list[pathlib.Path], sources: list[pathlib.Path]) -> list[str]:
    refs = {p: _references(p) for p in sources}
    module_refs = {p: _module_refs(p) for p in sources}
    out = []
    for path in defining:
        tree = ast.parse(path.read_text())
        module = _module_name(path)
        own_names = _module_scope_uses(path)
        for qualname, node in _definitions(tree):
            if _registered(node):
                continue
            span = range(node.lineno, node.end_lineno + 1)
            if "." in qualname:  # a method: matched by attribute name anywhere
                own = qualname.rsplit(".", 1)[-1]
                reached = any(
                    name == own and not (p == path and line in span)
                    for p, rs in refs.items()
                    for name, line in rs
                )
            else:
                reached = any(
                    name == qualname and line not in span for name, line in own_names
                ) or any(
                    (module, qualname) in mr for p, mr in module_refs.items() if p != path
                )
            if not reached:
                out.append(f"{path.name}:{node.lineno} {qualname}")
    return out


def test_scan_flags_an_unreached_definition(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "def used():\n    pass\n\n"
        "def recursive(n):\n    return recursive(n - 1) if n else 0\n\n"
        "class Unused:\n    pass\n\n"
        "class Store:\n"
        "    def __init__(self):\n        pass\n\n"
        "    def read(self):\n        return self.read()\n\n"
        "    def write(self):\n        pass\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text("from m import used, Store\nStore().write()\n")
    assert unreached([mod], [mod, caller]) == [
        "m.py:4 recursive",
        "m.py:7 Unused",
        "m.py:14 Store.read",
    ]


def test_scan_counts_a_registered_query_as_reached(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "from registry import register\n\n"
        "_SQL = 'SELECT 1'\n\n"
        "_ORPHAN_SQL = 'SELECT 2'\n\n"
        "def _helper():\n    return 1\n\n"
        "def _orphan():\n    return 2\n\n"
        "@register('q', _SQL)\n"
        "def q():\n    return _helper()\n"
    )
    assert unreached([mod], [mod]) == ["m.py:5 _ORPHAN_SQL", "m.py:10 _orphan"]


def test_scan_resolves_names_by_module(tmp_path):
    """Both modules define ``_h``; only ``a``'s is used.  ``b._h`` is
    flagged although a same-named ``_h`` is called elsewhere."""
    a = tmp_path / "a.py"
    a.write_text("def _h():\n    return 1\n\ndef f():\n    return _h()\n")
    b = tmp_path / "b.py"
    b.write_text("def _h():\n    return 2\n\ndef g():\n    return 3\n")
    caller = tmp_path / "caller.py"
    caller.write_text("import a as mod_a\nfrom b import g\nmod_a.f()\ng()\n")
    assert unreached([a, b], [a, b, caller]) == ["b.py:1 _h"]


def test_scan_resolves_own_module_names_by_scope(tmp_path):
    """A function-local ``from other import _h`` shadows the top-level
    ``_h``, so the call beside it does not reach it and ``_h`` is flagged.
    ``_k``, named only from a lambda inside a function, binds to the module
    scope and is reached; so is ``_T``, named only in a postponed
    annotation."""
    mod = tmp_path / "m.py"
    mod.write_text(
        "from __future__ import annotations\n\n"
        "def _h():\n    return 1\n\n"
        "def _k():\n    return 2\n\n"
        "class _T:\n    pass\n\n"
        "def f() -> _T:\n    from other import _h\n    return _h() + (lambda: _k())()\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text("from m import f\nf()\n")
    assert unreached([mod], [mod, caller]) == ["m.py:3 _h"]


def test_scan_follows_package_reexports(tmp_path):
    """``from pkg import run`` reaches ``pkg/impl.py::run`` through the
    package's re-export; the re-export alone reaches nothing."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    init = pkg / "__init__.py"
    init.write_text("from .impl import run, stop\n")
    impl = pkg / "impl.py"
    impl.write_text("def run():\n    pass\n\ndef stop():\n    pass\n")
    caller = tmp_path / "caller.py"
    caller.write_text("from pkg import run\nrun()\n")
    assert unreached([impl], [init, impl, caller]) == ["impl.py:4 stop"]


def registry_modules() -> list[pathlib.Path]:
    """The ``queries/*.py`` files that register at least one query."""
    return [
        p
        for p in sorted(QUERIES.glob("*.py"))
        if any(_registered(node) for node in ast.parse(p.read_text()).body)
    ]


@pytest.mark.parametrize("module", registry_modules(), ids=lambda p: p.stem)
def test_query_module_definitions_are_reached(module):
    assert unreached([module], non_test_sources()) == []


def test_streaming_definitions_are_reached_from_non_test_code():
    defining = sorted(p for p in STREAMING.glob("*.py") if p.name != "__init__.py")
    assert unreached(defining, non_test_sources()) == []
