"""Design rules of the function library, checked without Spark."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import pkgutil

import bytewax_spark.functions as fns


def test_no_public_function_takes_impl():
    """One implementation per operator: no public function in
    ``bytewax_spark.functions`` lets the caller pick an engine with an
    ``impl`` switch. A second implementation can only come back by
    editing this test."""
    checked, offenders = 0, []
    for info in pkgutil.iter_modules(fns.__path__):
        mod = importlib.import_module(f"{fns.__name__}.{info.name}")
        for name in getattr(mod, "__all__", ()):
            obj = getattr(mod, name)
            if not inspect.isfunction(obj):
                continue
            checked += 1
            if "impl" in inspect.signature(obj).parameters:
                offenders.append(f"{mod.__name__}.{name}")
    assert checked > 100
    assert offenders == []


_MATERIALIZING = {"persist", "cache", "unpersist", "localCheckpoint", "checkpoint"}


def _empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.List):
        return not node.elts
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("list", "dict")
        and not node.args
    )


def test_one_materialization_policy():
    """Only ``functions/_materialize.py`` keeps tables: no other module
    under ``bytewax_spark/functions`` calls ``persist``, ``cache``,
    ``unpersist`` or a checkpoint, and none keeps a module-level
    registry (an empty list or dict, or a name annotated as holding
    DataFrames) that could outlive a query or its session."""
    root = pathlib.Path(fns.__file__).parent
    checked, offenders = 0, []
    for path in sorted(root.rglob("*.py")):
        if path.name == "_materialize.py":
            continue
        checked += 1
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MATERIALIZING
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
        for node in tree.body:
            if isinstance(node, ast.AnnAssign):
                ann = ast.unparse(node.annotation)
                if "DataFrame" in ann or _empty_container(node.value):
                    offenders.append(f"{rel}:{node.lineno} module-level {ann}")
            elif isinstance(node, ast.Assign) and _empty_container(node.value):
                offenders.append(f"{rel}:{node.lineno} module-level container")
    assert checked > 20
    assert offenders == []
