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


def test_stream_logic_is_mode_blind():
    """A batch run of a stateful stream function is a stream of one
    micro-batch per key, so its logic never asks which mode it runs in:
    ``isStreaming`` is read in ``streaming/__init__.py`` only by the
    driver ``_stateful_batch_df`` and by input checks (the test of an
    ``if`` whose body is a single ``raise``)."""
    import bytewax_spark.streaming as streaming

    path = pathlib.Path(streaming.__file__)
    tree = ast.parse(path.read_text(), str(path))
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_stateful_batch_df":
            allowed.update(map(id, ast.walk(node)))
        elif isinstance(node, ast.If) and len(node.body) == 1 and isinstance(node.body[0], ast.Raise):
            allowed.update(map(id, ast.walk(node.test)))
    reads = [n for n in ast.walk(tree) if isinstance(n, ast.Attribute) and n.attr == "isStreaming"]
    assert reads, "the driver reads isStreaming"
    assert [f"{path.name}:{n.lineno}" for n in reads if id(n) not in allowed] == []


def test_one_cosine_kernel():
    """One dense cosine kernel: ``similarity._cosine_blocks`` is the
    only code under ``bytewax_spark/functions`` that divides a product
    of vector blocks by ``np.outer`` of their norms, so the rounding,
    the block budget and the pair and top-k rules built on it cannot
    drift apart between copies."""
    root = pathlib.Path(fns.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        calls += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "outer"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "np"
        ]
    assert [c.split(":")[0] for c in calls] == ["similarity.py"], calls
