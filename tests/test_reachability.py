"""No unreachable code in the package.

A static walk (``ast`` only, nothing is imported) from the entry
points: the CLI (``etl_pipe_spark/__main__.py``), the query registry
(``plans/catalog.py`` plus every module in its ``_PLAN_MODULES``), the
watermark cycle (``streaming/incremental.py``), the driver contract
(``__spark_entry__.py``), ``bench.py``, ``perfbench/`` and ``tools/``.
``PUBLIC_API`` names the deployment surfaces no in-repo entry point
calls; docs/DEPLOYMENT.md lists the same names under "Public API".
Tests are not entry points: code only a test reaches fails here.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "etl_pipe_spark"

PUBLIC_API = {
    # the reference's six flows, for a user switching over from it
    "flows.clearsight": {"scenarios_flow", "node_data_flow", "runs_flow",
                         "node_calc_flow", "event_data_flow", "timeline_flow"},
    # the reference's Postgres target
    "sources.catalog": {"load_jdbc", "write_jdbc", "jdbc_upsert",
                        "jdbc_scd2_close_version"},
    "sources.text_formats": {"read_avro", "write_avro", "avro_available"},
    "streaming.structured": {"stream_into_sink", "stream_jsonl_ingest"},
    # one-line bindings kept for symmetry with the ivfpq/lsh families
    "operators.index_store": {"append_to_sq8_index", "compact_sq8_index",
                              "append_to_bq_index", "compact_bq_index"},
    # reference for the Arrow winnowing kernel (tests/test_extensions.py)
    "plans.extensions": {"winnowing_fingerprints_expr"},
}


def _module_files() -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(os.path.join(_REPO, _PKG)):
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(root, name)
                mod = os.path.relpath(full, _REPO)[:-3].replace(os.sep, ".")
                out[mod.removesuffix(".__init__")] = full
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _imported(path: str, tree: ast.Module) -> set[str]:
    """Every module (and parent package) loading ``path`` may load."""
    mod = os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".").split(".")
    package = mod[:-1]
    names = {".".join(package)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            m = ".".join(base + ([node.module] if node.module else []))
            names |= {m} | {f"{m}.{a.name}" for a in node.names}
    parts = [n.split(".") for n in names]
    return {".".join(p[:i]) for p in parts for i in range(1, len(p) + 1)}


def _entry_files(modules: dict[str, str], public: bool) -> list[str]:
    catalog = _parse(modules[f"{_PKG}.plans.catalog"])
    plan_modules = next(
        [e.value for e in node.value.elts] for node in catalog.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "_PLAN_MODULES" for t in node.targets))
    files = [os.path.join(_REPO, "__spark_entry__.py"), os.path.join(_REPO, "bench.py")]
    for d in ("perfbench", "tools"):
        files += [os.path.join(_REPO, d, f) for f in sorted(os.listdir(os.path.join(_REPO, d)))
                  if f.endswith(".py")]
    entries = ["__main__", "plans.catalog", "streaming.incremental"]
    entries += [f"plans.{m}" for m in plan_modules] + (list(PUBLIC_API) if public else [])
    return files + [modules[f"{_PKG}.{m}"] for m in entries]


def _reached(modules: dict[str, str], public: bool = True) -> dict[str, ast.Module]:
    """Parsed files in the static import closure of the entry points."""
    trees: dict[str, ast.Module] = {}
    todo = _entry_files(modules, public)
    while todo:
        path = todo.pop()
        if path not in trees:
            trees[path] = _parse(path)
            todo += [modules[m] for m in _imported(path, trees[path]) if m in modules]
    return trees


def _names(node: ast.AST, reexports: bool = True) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and reexports:
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _liveness(public: bool) -> tuple[list[str], set[str]]:
    """(unreached definitions, names live code uses).

    A top-level function or class is live when reachable non-test code
    names it: module-level statements, the bodies of the entry files
    outside the package, registered queries, the public API (when
    ``public``), and then, to a fixed point, the bodies of live
    definitions.  Matching is by bare name, so it can only
    over-approximate what is live.  A package ``__init__`` re-export
    alone does not make a name live."""
    modules = _module_files()
    pkg_dir = os.path.join(_REPO, _PKG) + os.sep
    defs: dict[tuple[str, str], ast.AST] = {}
    live_names: set[str] = set()
    for path, tree in _reached(modules, public).items():
        mod = os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, ".")
        in_pkg = path.startswith(pkg_dir) and mod != "__main__"
        roots = PUBLIC_API.get(mod, set()) if public else set()
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                live_names |= _names(node, reexports=not path.endswith("__init__.py"))
                continue
            registered = any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                             for d in node.decorator_list)
            if in_pkg and not registered and node.name not in roots:
                defs[(mod, node.name)] = node
                for d in node.decorator_list:
                    live_names |= _names(d)
            else:
                live_names |= _names(node)
    live: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in live and node.name in live_names:
                live.add(key)
                live_names |= _names(node)
                grew = True
    return sorted(f"{m}.{n}" for m, n in set(defs) - live), live_names


def test_every_module_is_reached_from_an_entry_point():
    modules = _module_files()
    reached = set(_reached(modules))
    assert sorted(m for m, p in modules.items() if p not in reached) == []


def test_every_definition_is_named_by_reachable_code_or_public():
    unreached, _ = _liveness(public=True)
    assert unreached == []


def test_public_api_is_defined_and_reached_by_no_entry_point():
    """The allowlist holds exactly the surfaces no entry point reaches:
    a public definition that gains a caller, or disappears, leaves it."""
    modules = _module_files()
    _, live_names = _liveness(public=False)
    for mod, names in PUBLIC_API.items():
        tree = _parse(modules[f"{_PKG}.{mod}"])
        defined = {n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        assert names <= defined, f"{mod}: {sorted(names - defined)} not defined"
        assert names & live_names == set(), f"{mod}: reached without the allowlist"
