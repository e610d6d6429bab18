"""Static import check: every ``retail_etl_pipeline_spark`` import in the
package, the tools and the tests must resolve.

The tools import the registries inside ``main()``, so a tool that still
names a deleted module or function only fails when someone runs it.
This walks every import node (function-local ones included) with
``ast`` and checks that the imported module's file exists and that each
name in a ``from module import name`` is bound at the top level of that
file or is a submodule of it. Nothing is imported: some modules build
pandas UDFs at import time, which needs a live Spark session.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path


ROOT = Path(__file__).resolve().parent.parent
PKG = "retail_etl_pipeline_spark"
SCANNED = (PKG, "tools", "tests")
ANY = "*"  # a module that binds names dynamically


def _resolve(node: ast.ImportFrom, path: Path) -> str:
    """Absolute module name of a (possibly relative) ``from`` import.
    A file's package is its directory, ``__init__.py`` included."""
    if node.level == 0:
        return node.module or ""
    base = list(path.relative_to(ROOT).parent.parts)
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _imports():
    """Yield (file, line, module, name-or-None) for every import."""
    for top in SCANNED:
        for path in sorted((ROOT / top).rglob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for alias in node.names:
                        yield path, node.lineno, alias.name, None
                elif isinstance(node, ast.ImportFrom):
                    mod = _resolve(node, path)
                    for alias in node.names:
                        yield path, node.lineno, mod, alias.name


def _module_file(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _targets(node: ast.AST):
    if isinstance(node, ast.Name):
        yield node.id
    elif isinstance(node, (ast.Tuple, ast.List)):
        for elt in node.elts:
            yield from _targets(elt)


@cache
def _top_level_names(path: Path) -> frozenset[str]:
    """Names bound at module level, looking through if/try/with/for
    blocks but not into function or class bodies."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), filename=str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.add(node.name)
            continue
        if isinstance(node, ast.Assign):
            for t in node.targets:
                names.update(_targets(t))
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign, ast.For)):
            names.update(_targets(node.target))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                names.add(alias.asname or alias.name.split(".")[0])
        for child in ("body", "orelse", "finalbody", "handlers"):
            todo.extend(getattr(node, child, []))
    if ANY in names or "__getattr__" in names:
        names.add(ANY)
    return frozenset(names)


def _ours(mod: str) -> bool:
    return mod == PKG or mod.startswith(PKG + ".")


def test_scan_is_not_vacuous():
    """The walk reaches imports nested inside functions (the tools
    import the registries inside main()) and resolves relative imports
    into the package, and the resolver sees a missing name or module."""
    found = {(p.relative_to(ROOT).as_posix(), mod) for p, _, mod, _ in _imports()}
    assert ("tools/gen_explain.py", f"{PKG}.registry") in found
    assert (f"{PKG}/queries/part1_retail_flagship.py", f"{PKG}.operators") in found
    registry = _module_file(f"{PKG}.registry")
    assert "QUERIES" in _top_level_names(registry)
    assert "no_such_function" not in _top_level_names(registry)
    assert _module_file(f"{PKG}.no_such_module") is None


def test_every_package_import_resolves():
    dangling = []
    for path, line, mod, name in _imports():
        if not _ours(mod):
            continue
        where = f"{path.relative_to(ROOT)}:{line}"
        src = _module_file(mod)
        if src is None:
            dangling.append(f"{where}: no module {mod}")
            continue
        if name is None or name == ANY:
            continue
        bound = _top_level_names(src)
        if name in bound or ANY in bound or _module_file(f"{mod}.{name}"):
            continue
        dangling.append(f"{where}: {mod} has no {name}")
    assert not dangling, "dangling imports:\n" + "\n".join(dangling)
