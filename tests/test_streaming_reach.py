"""Every definition in ``streaming/`` and ``queries/relational2.py`` is
reached from non-test code.

A stdlib-``ast`` scan in the style of ``test_unused_imports.py``: each
top-level ``def``, ``class`` or single-name assignment in
``odp_dynamic_data_pipeline_spark/streaming/`` and
``odp_dynamic_data_pipeline_spark/queries/relational2.py``, and each
non-dunder method of a top-level class, must be referenced -- as
a name, an attribute or an imported name -- from non-test code: the
package (without ``streaming/__init__.py``, whose re-exports alone do not
make a definition reachable), ``perfbench/``, ``tools/`` and
``__spark_entry__.py``.  A definition's references to itself (recursion)
do not count.  Methods are matched by name, so a method counts as reached
when any non-test code names that attribute.  A ``@register``-decorated
query counts as reached: the registry calls it by name lookup, so only
the helpers and constants it uses must be found by the scan.  Code that
only tests call does not belong in the streaming surface, and a query
module keeps no helper that its queries stopped using."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
STREAMING = ROOT / "odp_dynamic_data_pipeline_spark" / "streaming"
RELATIONAL2 = ROOT / "odp_dynamic_data_pipeline_spark" / "queries" / "relational2.py"


def non_test_sources() -> list[pathlib.Path]:
    files = sorted(STREAMING.parent.rglob("*.py"))
    files = [p for p in files if p != STREAMING / "__init__.py"]
    files += sorted((ROOT / "perfbench").rglob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return [p for p in files if not p.name.startswith("test_")]


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
    out = []
    for path in defining:
        for qualname, node in _definitions(ast.parse(path.read_text())):
            if _registered(node):
                continue
            own = qualname.rsplit(".", 1)[-1]
            span = range(node.lineno, node.end_lineno + 1)
            if not any(
                name == own and not (p == path and line in span)
                for p, rs in refs.items()
                for name, line in rs
            ):
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


def test_relational2_definitions_are_reached_from_non_test_code():
    assert unreached([RELATIONAL2], non_test_sources()) == []


def test_streaming_definitions_are_reached_from_non_test_code():
    defining = sorted(p for p in STREAMING.glob("*.py") if p.name != "__init__.py")
    assert unreached(defining, non_test_sources()) == []
