"""Every module in the package is reached from a program that runs.

The roots are the correctness-gate entry (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and the scripts (``scripts/*.py``). A module
is reached when a root, or a module already reached, imports it, at module
level or inside a function. Tests are not roots: a module that only its own
unit tests import is surface nothing runs.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "trustfuse_spark"
ROOTS = [
    REPO / "__spark_entry__.py",
    *sorted(REPO.glob("perfbench/*.py")),
    *sorted(REPO.glob("scripts/*.py")),
]

# Modules no root imports, kept on purpose. Their own imports count as reached.
UNREACHED_ON_PURPOSE = {
    "trustfuse_spark.curate_pipeline": "a `python -m` CLI",
    "trustfuse_spark.fusion_pipeline": "a `python -m` CLI",
    "trustfuse_spark.operators.skew": "BASELINE's salting",
    "trustfuse_spark.sources.wikiconflict": "the reference dataset loader",
}


def _modules() -> dict[str, pathlib.Path]:
    """Dotted name -> file, for every module under the package."""
    out = {}
    for path in PACKAGE.rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return out


def _imports(path: pathlib.Path) -> set[str]:
    """Every dotted name one file's imports load, parent packages included.
    ``from a.b import c`` names both ``a.b`` and ``a.b.c``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import"
            names.add(node.module)
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def _reached(roots: list[pathlib.Path]) -> set[str]:
    modules = _modules()
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        for name in _imports(todo.pop()) & modules.keys() - seen:
            seen.add(name)
            todo.append(modules[name])
    return seen


def test_every_module_is_reached():
    modules = _modules()
    assert UNREACHED_ON_PURPOSE.keys() <= modules.keys()
    # an exception a root starts to import is no longer an exception
    assert UNREACHED_ON_PURPOSE.keys().isdisjoint(_reached(ROOTS))
    reached = _reached(ROOTS + [modules[m] for m in UNREACHED_ON_PURPOSE])
    leaves = {m for m, p in modules.items() if p.name != "__init__.py"}
    assert sorted(leaves - reached - UNREACHED_ON_PURPOSE.keys()) == []
