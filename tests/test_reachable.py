"""Every module in the package is reached from a program that runs, and
every public definition in it is named by one.

The roots are the correctness-gate entry (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and the scripts (``scripts/*.py``). A module
is reached when a root, or a module already reached, imports it, at module
level or inside a function. A top-level function or class is named when a
root or a package module calls, imports or reads it, or spells it in a
string (perfbench patches by attribute name), anywhere but inside its own
body. Tests are not roots: a module or function that only its own unit
tests use is surface nothing runs.
"""

import ast
import pathlib
import re

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


# Public top-level names no root or package module names, kept on purpose.
UNNAMED_ON_PURPOSE = {
    "trustfuse_spark.api.register_model": "the extension API",
    "trustfuse_spark.datagen.gen_claims": "a test fixture",
    "trustfuse_spark.datagen.gen_gt": "a test fixture",
    "trustfuse_spark.datagen.gen_partial_orders": "a test fixture",
    "trustfuse_spark.datagen.gen_source_truth": "a test fixture",
    "trustfuse_spark.functions.preprocess.split_authors": "the Book reference preprocessing",
    "trustfuse_spark.functions.preprocess.extract_authors": "the Book reference preprocessing",
    "trustfuse_spark.operators.ann.brute_force_topk": "the exact baseline for `ivf_topk`",
    "trustfuse_spark.operators.bucketize.upsert_in_bucket": "a reference rule",
    "trustfuse_spark.operators.bucketize.cumulative_bucket": "a reference rule",
    "trustfuse_spark.operators.bucketize.mark_known_entities": "a reference rule",
    "trustfuse_spark.sources.loaders.load_gt_dir": "a reference loader",
    "trustfuse_spark.sources.loaders.load_weather_dir": "a reference loader",
    "trustfuse_spark.operators.extract.spans_roundtrip": "BASELINE's span invariant",
}

# a string names what it spells as a dotted path ("pipeline.fuse"); prose does not
_DOTTED = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _names(tree: ast.AST) -> set[str]:
    """Every name a subtree calls, imports, reads as an attribute or spells
    in a string."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.split(".")[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _DOTTED.fullmatch(node.value):
                out.update(node.value.split("."))
    return out


def _scopes(path: pathlib.Path) -> list[tuple[str | None, set[str]]]:
    """One (definition name, names in its body) per top-level statement of a
    file; the name is None for a statement that defines nothing."""
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [
        (node.name if isinstance(node, kinds) else None, _names(node))
        for node in ast.parse(path.read_text()).body
    ]


def test_every_public_definition_is_named():
    modules = _modules()
    reached = _reached(ROOTS + [modules[m] for m in UNREACHED_ON_PURPOSE])
    scopes = [(p, *s) for p in ROOTS + list(modules.values()) for s in _scopes(p)]
    unnamed = {
        f"{module}.{name}"
        for module in reached
        for path, name, _ in scopes
        if path == modules[module] and name and not name.startswith("_")
        # named anywhere but inside its own body
        and not any(name in names for p, n, names in scopes if (p, n) != (path, name))
    }
    # an exception a program starts to name is no longer an exception
    assert UNNAMED_ON_PURPOSE.keys() <= unnamed
    assert sorted(unnamed - UNNAMED_ON_PURPOSE.keys()) == []
