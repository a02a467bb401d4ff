"""Every engine module is reached from a job, the benchmark or a tool,
and every top-level engine name is referenced somewhere.

The roots are ``jobs/*.py``, ``perfbench/*.py``, ``tools/*.py`` and the
engine functions ``insar_spark/families.py`` names by path (``_late``).
From them, every ``import``/``from ... import`` (function-local ones too)
that lands on a repository module is followed. A module under
``insar_spark/`` that no root reaches is code only tests run: delete it,
or give it a caller. A top-level ``def``, ``class`` or assigned name under
``insar_spark/`` that nothing in the repository's code or tests mentions is
dead: delete it. There is no allowlist. Static (``ast``) only; no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _module_file(name: str, importer: str) -> str | None:
    """The repository file of module ``name`` imported from ``importer``:
    a package path from the checkout root, or a sibling script module
    (perfbench and the tools put their own directory on ``sys.path``)."""
    rel = name.replace(".", os.sep)
    for base in (ROOT, os.path.dirname(importer)):
        for path in (os.path.join(base, rel + ".py"), os.path.join(base, rel, "__init__.py")):
            if os.path.isfile(path):
                return path
    return None


def _imports(path: str) -> set[str]:
    """The files of the repository modules ``path`` imports, with the
    packages on the way (``import a.b.c`` runs ``a`` and ``a.b``) and the
    submodules a ``from package import name`` names."""
    tree = ast.parse(open(path).read(), path)
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.append(node.module)
            names += [f"{node.module}.{a.name}" for a in node.names]
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]), path)
            if f:
                found.add(f)
    return found


def _late_paths() -> set[str]:
    """The files of the engine functions ``families.py`` names by path."""
    path = os.path.join(ROOT, "insar_spark", "families.py")
    found = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_late"
        ):
            module = "insar_spark." + node.args[0].value.rsplit(".", 1)[0]
            found.add(_module_file(module, path))
    return found


def reached() -> set[str]:
    roots = {
        f for d in ("jobs", "perfbench", "tools") for f in glob.glob(os.path.join(ROOT, d, "*.py"))
    }
    todo = roots | _late_paths()
    seen: set[str] = set()
    while todo:
        f = todo.pop()
        if f not in seen:
            seen.add(f)
            todo |= _imports(f)
    return seen


def test_every_engine_module_is_reached():
    engine = set(glob.glob(os.path.join(ROOT, "insar_spark", "**", "*.py"), recursive=True))
    assert engine, ROOT
    unreached = sorted(os.path.relpath(f, ROOT) for f in engine - reached())
    assert unreached == [], unreached


def _top_level_names(path: str) -> set[str]:
    """The names ``path`` defines at module level: each ``def``,
    ``class`` and assigned name, dunders excepted."""
    names = set()
    for node in ast.parse(open(path).read(), path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return {n for n in names if not (n.startswith("__") and n.endswith("__"))}


def _references(path: str) -> set[str]:
    """The names ``path`` refers to: loaded names, attributes, imported
    names, and the ``.``-separated words of string constants (families
    look engine functions and constants up by string)."""
    refs = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.update(node.value.split("."))
    return refs


def test_every_engine_name_is_referenced():
    def files(d):
        return glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)

    refs = set()
    for d in ("insar_spark", "jobs", "perfbench", "tools", "tests"):
        for f in files(d):
            refs |= _references(f)
    unreferenced = sorted(
        f"{os.path.relpath(f, ROOT)}:{name}"
        for f in files("insar_spark")
        for name in _top_level_names(f) - refs
    )
    assert unreferenced == [], unreferenced
