"""Every engine name a script under scripts/ imports, or reads or
patches through a module alias (``DI.write_band_index``), exists: names
of the ``mapreduceapp_spark`` package and of the driver contract module
``__spark_entry__``. AST only: no import, no Spark.

Scripts import lazily inside functions and are run by hand, so a
renamed or deleted engine name breaks them silently; this catches it
at test time."""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = ("mapreduceapp_spark", "__spark_entry__")
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))


def _module_file(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names bound at module level, including inside top-level
    if/try blocks."""
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add((a.asname or a.name).split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        names.add(n.id)
        elif isinstance(node, (ast.If, ast.Try)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                for child in getattr(node, field, []):
                    stack.extend(
                        child.body if isinstance(child, ast.ExceptHandler) else [child]
                    )
    return names


def _resolves(module: str, name: str) -> bool:
    """``name`` is an attribute of ``module``: a top-level binding of
    its source, or a submodule."""
    if _module_file(f"{module}.{name}") is not None:
        return True
    path = _module_file(module)
    if path is None:
        return False
    with open(path) as fh:
        return name in _top_level_names(ast.parse(fh.read()))


def _engine_refs(tree: ast.Module) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every engine import and every attribute
    of an engine-module alias; name None checks the module itself."""
    refs: list[tuple[int, str, str | None]] = []
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(ENGINE):
            for a in node.names:
                refs.append((node.lineno, node.module, a.name))
                if _module_file(f"{node.module}.{a.name}") is not None:
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(ENGINE):
                    refs.append((node.lineno, a.name, None))
                    if a.asname:
                        aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            refs.append((node.lineno, aliases[node.value.id], node.attr))
    return refs


def test_every_script_is_checked():
    assert len(SCRIPTS) >= 7, SCRIPTS  # the glob found scripts/


@pytest.mark.parametrize(
    "script", SCRIPTS, ids=[os.path.basename(s) for s in SCRIPTS]
)
def test_script_engine_names_resolve(script):
    with open(script) as fh:
        tree = ast.parse(fh.read(), script)
    refs = _engine_refs(tree)
    assert refs, "script uses no engine names"
    missing = [
        f"line {line}: {module}" + (f".{name}" if name else "")
        for line, module, name in refs
        if not (
            _module_file(module) is not None
            if name is None
            else _resolves(module, name)
        )
    ]
    assert not missing, f"{os.path.basename(script)}: {missing}"
