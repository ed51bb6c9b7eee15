"""Every ``ffcl_spark`` name the harness scripts use still exists.

``__spark_entry__.py``, ``bench.py``, ``benchmark/``, ``scripts/`` and
``BENCH/`` import operators by name, often inside functions, so a
renamed or deleted public name only fails when that branch runs. This
test reads the files' syntax trees instead (no Spark session) and
checks that each ``from ffcl_spark... import name`` resolves (in the
files and in the job scripts they embed as strings) and that
each ``ALIAS.attr`` is an attribute of the module ``ALIAS`` names, for
every ``from ffcl_spark.x import mod as ALIAS`` binding in scope.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path
from types import ModuleType

import pytest

ROOT = Path(__file__).resolve().parents[1]
FILES = sorted(
    [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    + [p for d in ("benchmark", "scripts", "BENCH") for p in (ROOT / d).glob("*.py")]
)
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds (a submodule
    included), or None when there is none."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _scope_nodes(scope):
    """Nodes of ``scope`` outside its nested functions and classes;
    the nested scope nodes themselves are included."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _problems(scope, aliases: dict[str, ModuleType], where: str) -> list[str]:
    out = []
    aliases = dict(aliases)
    nodes = list(_scope_nodes(scope))
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "ffcl_spark"
        ):
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if obj is None:
                    out.append(f"{where}:{node.lineno} {node.module}.{a.name}")
                elif isinstance(obj, ModuleType):
                    aliases[a.asname or a.name] = obj
    for node in nodes:
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not hasattr(aliases[node.value.id], node.attr)
        ):
            mod = aliases[node.value.id].__name__
            out.append(f"{where}:{node.lineno} {mod}.{node.attr}")
        elif isinstance(node, _SCOPES):
            out += _problems(node, aliases, where)
    return out


def harness_problems(path: Path) -> list[str]:
    """Unresolvable ``ffcl_spark`` names in one harness file, and in
    the job scripts it embeds as string literals (the ``BENCH/``
    drivers run their job text in a child interpreter)."""
    tree = ast.parse(path.read_text())
    out = _problems(tree, {}, path.name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and "from ffcl_spark" in str(node.value):
            try:
                job = ast.parse(node.value)
            except SyntaxError:  # prose that mentions an import
                continue
            out += _problems(job, {}, f"{path.name}:{node.lineno}+")
    return sorted(out)


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_harness_names_resolve(path):
    assert harness_problems(path) == []


def test_guard_sees_a_missing_name(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "def f():\n"
        "    from ffcl_spark.operators.geo import geo_no_such_join\n"
        "    from ffcl_spark.operators import geo as GEO\n"
        "    return GEO.sphere_routes, GEO.no_such_fixture\n"
    )
    assert harness_problems(src) == [
        "probe.py:2 ffcl_spark.operators.geo.geo_no_such_join",
        "probe.py:4 ffcl_spark.operators.geo.no_such_fixture",
    ]
