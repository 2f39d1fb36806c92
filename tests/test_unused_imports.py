"""Every module-level import in the package is used by its module.

A stdlib-``ast`` scan, since no linter ships with the toolchain: a name a
module imports at top level must appear as a name in that module, be
re-exported through ``__all__``, or sit on a line marked ``# noqa: F401``
(an import kept for its side effect, such as query registration)."""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "odp_dynamic_data_pipeline_spark"
_NOQA = re.compile(r"#\s*noqa:[^#]*\bF401\b")


def _exported(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    return set()


def unused_imports(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | _exported(tree)
    out = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any(_NOQA.search(line) for line in lines[node.lineno - 1 : node.end_lineno]):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in used:
                out.append(f"{path}:{node.lineno} {name}")
    return out


def test_scan_flags_an_unused_import(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "import os\nimport re  # noqa: F401\nfrom json import dumps, loads\n"
        "__all__ = ['loads']\nprint(os.sep)\n"
    )
    assert unused_imports(mod) == [f"{mod}:3 dumps"]


def test_package_has_no_unused_imports():
    found = [u for p in sorted(PACKAGE.rglob("*.py")) for u in unused_imports(p)]
    assert found == []
