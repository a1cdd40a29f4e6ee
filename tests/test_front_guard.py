"""Regression guard for the one staged-front store: plan code keeps no
cache of its own and builds no staging path by hand. Every front goes
through ``functions.session_cache.front`` and every staging path
through ``session_cache.shared_copy`` or ``session_cache.app_dir``."""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pe_firm_investment_database_pipeline_spark",
)
STORE = os.path.join("functions", "session_cache.py")


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG), ast.parse(open(path).read())


MODULES = list(_modules())


def _is_empty_dict(node) -> bool:
    return (isinstance(node, ast.Dict) and not node.keys) or (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def _mutated_names(tree) -> set[str]:
    """Names that some function body item-assigns or mutates in place
    (``X[k] = v``, ``X.setdefault``/``update``/``pop``/``clear``)."""
    out = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, (ast.Assign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name):
                        out.add(t.value.id)
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("setdefault", "update", "pop", "clear")
                and isinstance(node.func.value, ast.Name)
            ):
                out.add(node.func.value.id)
    return out


@pytest.mark.parametrize("rel, tree", MODULES, ids=[m[0] for m in MODULES])
def test_no_module_level_cache_dict(rel, tree):
    if rel == STORE:
        return
    mutated = _mutated_names(tree)
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        for t in targets:
            if not isinstance(t, ast.Name):
                continue
            assert not _is_empty_dict(value), f"{rel}:{node.lineno}: module-level cache dict {t.id}"
            assert not (isinstance(value, ast.Dict) and t.id in mutated), (
                f"{rel}:{node.lineno}: module-level dict {t.id} filled at run time"
            )


@pytest.mark.parametrize("rel, tree", MODULES, ids=[m[0] for m in MODULES])
def test_no_register_cache_call(rel, tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            assert name != "register_cache", f"{rel}:{node.lineno}: register_cache call"


@pytest.mark.parametrize("rel, tree", MODULES, ids=[m[0] for m in MODULES])
def test_no_staging_path_recipe_outside_the_store(rel, tree):
    if rel == STORE:
        return
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name != "md5":
            continue
        names = {n.id for a in node.args for n in ast.walk(a) if isinstance(n, ast.Name)}
        assert "sf_dir" not in names, f"{rel}:{node.lineno}: md5(sf_dir...) path recipe"


_TEMPFILE_CALLS = {
    "gettempdir",
    "gettempdirb",
    "mkdtemp",
    "mkstemp",
    "mktemp",
    "TemporaryDirectory",
    "TemporaryFile",
    "NamedTemporaryFile",
    "SpooledTemporaryFile",
}


def _warehouse_calls(tree) -> set[int]:
    """ids of the calls nested in ``.config("spark.sql.warehouse.dir", ...)``."""
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "spark.sql.warehouse.dir"
        ):
            out |= {id(n) for a in node.args[1:] for n in ast.walk(a)}
    return out


@pytest.mark.parametrize("rel, tree", MODULES, ids=[m[0] for m in MODULES])
def test_no_tempfile_call_outside_the_store(rel, tree):
    """Only ``session_cache`` places files in the temp dir; the one
    exemption is the warehouse dir in ``session.py``."""
    if rel == STORE:
        return
    exempt = _warehouse_calls(tree) if rel == "session.py" else set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in exempt:
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        on_module = isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id == "tempfile"
        assert name not in _TEMPFILE_CALLS and not on_module, (
            f"{rel}:{node.lineno}: temp-dir call outside session_cache"
        )
