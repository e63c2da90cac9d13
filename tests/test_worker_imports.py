"""Python workers need not import the package.

A function handed to a Python-worker API is pickled by cloudpickle.  A
function defined at a module's top level pickles *by reference* (its
module and name) unless the module is registered with
``cloudpickle.register_pickle_by_value``, and then the worker must import
``etl_pipe_spark``, which fails when the package is only on the driver's
``sys.path`` (the driver-contract setup).  A static walk (``ast`` only)
checks that every package module passing one of its top-level functions
to such an API registers itself.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "etl_pipe_spark"
_WORKER_APIS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInArrow",
                "pandas_udf", "udf"}


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    return func.id if isinstance(func, ast.Name) else None


def _shipped(tree: ast.Module) -> set[str]:
    """Top-level functions of ``tree`` passed to a worker API, as an
    argument or through a decorator."""
    top = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _name(node.func) in _WORKER_APIS:
            args = [*node.args, *(k.value for k in node.keywords)]
            out |= {a.id for a in args if isinstance(a, ast.Name) and a.id in top}
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef):
            for dec in fn.decorator_list:
                if _name(dec.func if isinstance(dec, ast.Call) else dec) in _WORKER_APIS:
                    out.add(fn.name)
    return out


def _registers_itself(tree: ast.Module) -> bool:
    """``<cloudpickle>.register_pickle_by_value(sys.modules[__name__])``
    at the module's top level."""
    for stmt in tree.body:
        call = stmt.value if isinstance(stmt, ast.Expr) else None
        if (isinstance(call, ast.Call) and _name(call.func) == "register_pickle_by_value"
                and ast.unparse(call.args[0]) == "sys.modules[__name__]"):
            return True
    return False


def _offenders(root: str) -> dict[str, set[str]]:
    out = {}
    for base, _, files in os.walk(os.path.join(root, _PKG)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                shipped = _shipped(tree)
                if shipped and not _registers_itself(tree):
                    out[os.path.relpath(path, root)] = shipped
    return out


def test_modules_shipping_functions_to_workers_pickle_by_value():
    assert _offenders(_REPO) == {}


def test_the_walk_sees_shipped_functions():
    tree = ast.parse(
        "import sys\n"
        "def kernel(batches):\n    yield from batches\n"
        "@F.pandas_udf('double')\ndef score(v):\n    return v\n"
        "def plan(df):\n    return df.mapInArrow(kernel, schema='x long')\n")
    assert _shipped(tree) == {"kernel", "score"}
    assert not _registers_itself(tree)
    tree.body[1:1] = ast.parse("_cp.register_pickle_by_value(sys.modules[__name__])").body
    assert _registers_itself(tree)
