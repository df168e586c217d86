"""Design rules of the function library, checked without Spark."""

from __future__ import annotations

import importlib
import inspect
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
