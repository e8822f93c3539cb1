"""``perfbench/run.py --trace 1`` wraps package functions and methods by
name (``perfbench/layers.py``). A refactor that renames or removes one
must fail here, not crash a traced benchmark run."""

import importlib
import importlib.util
import os

import pytest

_LAYERS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "layers.py"
)


def _layers():
    spec = importlib.util.spec_from_file_location("perfbench_layers", _LAYERS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_MOD = _layers()


@pytest.mark.parametrize(
    "modname,attr",
    [(m, a) for m, a, _ in _MOD.SESSION_FUNCTIONS + _MOD.FUNCTIONS],
)
def test_traced_function_resolves(modname, attr):
    assert callable(getattr(importlib.import_module(modname), attr))


@pytest.mark.parametrize(
    "modname,cls,meth", [(m, c, f) for m, c, f, _ in _MOD.METHODS]
)
def test_traced_method_resolves(modname, cls, meth):
    # the tracer patches the class's own attribute, not an inherited one
    klass = getattr(importlib.import_module(modname), cls)
    assert callable(klass.__dict__[meth])
