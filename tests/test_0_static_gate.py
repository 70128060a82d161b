"""Static gate: catches name and import breakage before any Spark test runs.

Stdlib only, no SparkSession; the file name sorts first under
``pytest tests/``. Four checks over every module of the package and every
harness script (``bench.py``, ``correctness_local.py``,
``__spark_entry__.py``, ``tools/*.py``, loaded by path, since no test
imports them):

1. every module imports, every harness loads, and ``load_all_operators()``
   registers every query;
2. every ``LOAD_GLOBAL`` in every function (nested ones and lambdas
   included, found by walking ``co_consts`` with ``dis``) names a module
   global or a builtin;
3. every ``from X import Y`` in the source, function-local ones included,
   resolves;
4. every call ``f(...)`` whose bare name ``f`` resolves to a package,
   harness or ``oracle_util`` function binds against ``inspect.signature(f)``.

pyflakes and ruff would cover 2 and 3, but neither is a dependency here.
"""

from __future__ import annotations

import ast
import builtins
import contextlib
import dis
import importlib
import importlib.util
import inspect
import sys
import types
from pathlib import Path

import dask_recommender_system_spark as PKG

N_QUERIES = 422


def _modules() -> dict[str, tuple[types.ModuleType | None, Path, ast.Module, str]]:
    """name -> (module or None, path, AST, import error). Files are found
    on disk, not by walking packages, so a package whose ``__init__``
    fails still has its submodules checked."""
    root = Path(PKG.__file__).parent
    out = {}
    for path in sorted(root.rglob("*.py")):
        parts = [PKG.__name__, *path.relative_to(root).with_suffix("").parts]
        if parts[-1] == "__init__":
            parts.pop()
        name = ".".join(parts)
        try:
            mod, err = importlib.import_module(name), ""
        except Exception as e:  # any failure is a finding
            mod, err = None, f"{type(e).__name__}: {e}"
        out[name] = (mod, path, ast.parse(path.read_text(), str(path)), err)
    return out


MODULES = _modules()

REPO = Path(PKG.__file__).parent.parent
HARNESS_PREFIX = "_harness_"


def _harnesses():
    """Like ``_modules`` for the harness scripts, each executed from its
    path under a private module name. The ``sys.path`` entries they add
    are returned and taken back out, so the rest of the suite does not
    see them."""
    files = [REPO / "bench.py", REPO / "correctness_local.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "tools").glob("*.py"))
    saved, out = list(sys.path), {}
    for path in files:
        name = str(path.relative_to(REPO))
        modname = HARNESS_PREFIX + path.stem
        try:
            spec = importlib.util.spec_from_file_location(modname, path)
            mod = sys.modules[modname] = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            err = ""
        except Exception as e:  # any failure is a finding
            mod, err = None, f"{type(e).__name__}: {e}"
        out[name] = (mod, path, ast.parse(path.read_text(), str(path)), err)
    added = [p for p in sys.path if p not in saved]
    sys.path[:] = saved
    return out, added


HARNESSES, HARNESS_PATHS = _harnesses()
ALL = {**MODULES, **HARNESSES}


@contextlib.contextmanager
def _harness_sys_path():
    """The harnesses' own ``sys.path`` additions (repo root, ``tests/``), for
    resolving their imports."""
    saved = list(sys.path)
    sys.path[:0] = HARNESS_PATHS
    try:
        yield
    finally:
        sys.path[:] = saved


def test_every_module_imports_and_registers_every_query():
    failed = [f"{n}: {err}" for n, (_, _, _, err) in ALL.items() if err]
    assert not failed, "modules that do not import:\n" + "\n".join(failed)
    assert len(HARNESSES) >= 10
    from dask_recommender_system_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    assert len(MODULES) >= 30
    assert len(REGISTRY) == N_QUERIES


def _code_objects(code: types.CodeType):
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield const
            yield from _code_objects(const)


def test_every_global_name_resolves():
    missing = []
    for name, (mod, path, _, _) in ALL.items():
        if mod is None:
            continue  # reported by the import test
        top = compile(path.read_text(), str(path), "exec")
        for code in _code_objects(top):
            for ins in dis.get_instructions(code):
                if ins.opname != "LOAD_GLOBAL":
                    continue
                g = ins.argval
                if g not in vars(mod) and not hasattr(builtins, g):
                    missing.append(f"{name}:{code.co_name}:{ins.positions.lineno} {g}")
    assert not missing, "unresolved globals:\n" + "\n".join(missing)


def _import_from_module(modname: str, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module
    parts = modname.split(".")
    is_pkg = ALL[modname][1].name == "__init__.py"
    base = parts if is_pkg else parts[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _resolve_from(target: str, attr: str):
    mod = importlib.import_module(target)
    if hasattr(mod, attr):
        return getattr(mod, attr)
    if not hasattr(mod, "__path__"):
        raise ImportError(f"{target} has no name {attr!r}")
    return importlib.import_module(f"{target}.{attr}")


@_harness_sys_path()
def test_every_from_import_resolves():
    bad = []
    for name, (_, _, tree, _) in ALL.items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module == "__future__":
                continue
            target = _import_from_module(name, node)
            for alias in node.names:
                try:
                    _resolve_from(target, alias.name)
                except Exception as e:
                    bad.append(f"{name}:{node.lineno} from {target} import {alias.name}: {e}")
    assert not bad, "unresolved imports:\n" + "\n".join(bad)


class _CallBinder(ast.NodeVisitor):
    """Walks one module; binds bare-name calls against package functions.

    A name bound inside an enclosing function (argument, assignment, loop
    target, nested def) shadows the module global and is skipped, unless
    the binding is a function-local ``from X import name``, which is
    resolved like a module-level one."""

    def __init__(self, modname: str, mod: types.ModuleType):
        self.modname, self.mod = modname, mod
        self.scopes: list[dict[str, object]] = []
        self.checked, self.bad = 0, []

    def _scope(self, fn: ast.FunctionDef | ast.AsyncFunctionDef | ast.Lambda):
        local: dict[str, object] = {}
        a = fn.args
        for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]:
            if arg is not None:
                local[arg.arg] = None
        body = fn.body if isinstance(fn.body, list) else [fn.body]
        stack = list(body)
        while stack:
            n = stack.pop()
            if isinstance(n, ast.Global):
                for g in n.names:
                    local.pop(g, None)
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del)):
                local[n.id] = None
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                local[n.name] = None
                stack.extend(n.decorator_list)
                continue  # its body is its own scope
            elif isinstance(n, ast.ExceptHandler) and n.name:
                local[n.name] = None
            elif isinstance(n, ast.Import):
                for al in n.names:
                    local[(al.asname or al.name).split(".")[0]] = None
            elif isinstance(n, ast.ImportFrom):
                target = _import_from_module(self.modname, n)
                for al in n.names:
                    try:
                        local[al.asname or al.name] = _resolve_from(target, al.name)
                    except Exception:  # reported by the import test
                        local[al.asname or al.name] = None
            stack.extend(ast.iter_child_nodes(n))
        return local

    def _enter(self, node):
        self.scopes.append(self._scope(node))
        self.generic_visit(node)
        self.scopes.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_Lambda = _enter

    def _lookup(self, name: str):
        for scope in reversed(self.scopes):
            if name in scope:
                return scope[name]
        return vars(self.mod).get(name)

    def visit_Call(self, node: ast.Call):
        self.generic_visit(node)
        if not isinstance(node.func, ast.Name):
            return
        fn = self._lookup(node.func.id)
        if not inspect.isfunction(fn) or not fn.__module__.startswith(CHECKED):
            return
        if any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        ):
            return
        self.checked += 1
        try:
            inspect.signature(fn).bind(
                *node.args, **{k.arg: k.value for k in node.keywords}
            )
        except TypeError as e:
            self.bad.append(f"{self.modname}:{node.lineno} {node.func.id}(): {e}")


CHECKED = (PKG.__name__, HARNESS_PREFIX, "oracle_util")


@_harness_sys_path()
def test_every_package_call_binds_its_signature():
    checked, bad = 0, []
    for name, (mod, _, tree, _) in ALL.items():
        if mod is None:
            continue  # reported by the import test
        v = _CallBinder(name, mod)
        v.visit(tree)
        checked += v.checked
        bad += v.bad
    assert checked > 1000, checked
    assert not bad, "calls that do not bind:\n" + "\n".join(bad)


def test_no_operator_calls_a_query_through_the_registry():
    """``REGISTRY[name].fn`` releases the previous query's tracked
    checkpoints; an operator that calls it mid-build frees its own. Call
    the raw query function instead."""
    bad = [
        f"{name}:{node.lineno}"
        for name, (_, _, tree, _) in MODULES.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "fn"
        and isinstance(node.func.value, ast.Subscript)
    ]
    assert not bad, "REGISTRY[...].fn(...) inside the package:\n" + "\n".join(bad)
