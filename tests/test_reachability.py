"""Every module under kalytical_spark/ must be reachable from a kept entry
point, so a side surface that only its own tests import cannot grow back.

The walk is static (``ast``, no Spark session). It starts from the driver
contract, the facade, the control loop's sink, the benchmark and the tools
(their test_*.py modules excepted, as in the name-level pass) and follows
every import statement (lazy imports inside functions included).

A second, name-level pass does the same for functions: every top-level def
under kalytical_spark/ (the facade's endpoints aside) must be named by some
non-test .py file in the repository outside its own body, so a helper
nothing calls cannot linger either, and a def that only its own test calls
cannot pass for a live one.

A third pass does the same for settings: every field of the config object
must be read by some non-test .py file other than config.py, so a setting
that changes nothing a workload runs cannot be offered as a live one.
"""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "kalytical_spark"

_ROOT_MODULES = (
    "kalytical_spark.registry",
    "kalytical_spark.api",
    "kalytical_spark.catalog",
    "kalytical_spark.session",
    "kalytical_spark.streaming.sinks",
    "kalytical_spark.operators.dag",
)
_ROOT_DIRS = ("perfbench", "tools")

def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every .py under the package."""
    mods = {}
    for dirpath, _dirs, files in os.walk(os.path.join(_REPO, _PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), _REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _imported(path: str, module: str, is_pkg: bool) -> set[str]:
    """Every dotted name one file imports, with relative imports resolved;
    ``from X import Y`` yields both X and X.Y (Y may be a submodule)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    package = module if is_pkg else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    mods = _package_modules()
    roots = [(m, mods[m]) for m in _ROOT_MODULES]
    roots.append(("__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")))
    for d in _ROOT_DIRS:
        for f in sorted(os.listdir(os.path.join(_REPO, d))):
            if f.endswith(".py") and not f.startswith("test_"):
                roots.append((f"{d}.{f[:-3]}", os.path.join(_REPO, d, f)))
    seen: set[str] = set()
    todo = [m for m, _ in roots if m in mods]
    for m, path in roots:
        if m not in mods:
            todo.extend(_imported(path, m, is_pkg=False))
    while todo:
        m = todo.pop()
        if m not in mods or m in seen:
            continue
        seen.add(m)
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = m.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imported(mods[m], m, mods[m].endswith("__init__.py")))
    return seen


def test_every_package_module_is_reached():
    unreached = sorted(set(_package_modules()) - _reached())
    assert not unreached, f"modules only their own tests import: {unreached}"


def _non_test_py_files() -> list[str]:
    """Every .py file in the repository except the tests: the tests
    directory, test_*.py modules and conftest.py."""
    paths = []
    for dirpath, dirs, files in os.walk(_REPO):
        dirs[:] = [
            d for d in dirs
            if not d.startswith((".", "__pycache__"))
            and os.path.join(dirpath, d) != os.path.join(_REPO, "tests")
        ]
        paths.extend(
            os.path.join(dirpath, f) for f in files
            if f.endswith(".py") and not f.startswith("test_") and f != "conftest.py"
        )
    return sorted(paths)


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants, which name things but call nothing."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            out.add(id(node.body[0].value))
    return out


def _names_used(tree: ast.AST, skip: set[int]) -> list[str]:
    """Every identifier a subtree uses: names, attributes, imported names
    and the identifier-shaped words of string constants (by-name loads such
    as getattr or registry strings), docstrings excepted."""
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.append(node.id)
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
        elif isinstance(node, ast.alias):
            names.append(node.name.rpartition(".")[2])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
        ):
            names.extend(re.findall(r"[A-Za-z_]\w*", node.value))
    return names


def test_every_package_def_is_named():
    """A top-level def under kalytical_spark/ that no non-test .py file names
    outside its own body is dead code: nothing but its own test calls it.
    The facade's public defs are the REST endpoints, entry points in their
    own right, like the facade module in the module-level pass."""
    pkg = os.path.join(_REPO, _PKG)
    facade = os.path.join(pkg, "api.py")
    defs: list[tuple[str, str]] = []
    used: set[str] = set()
    for path in _non_test_py_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        skip = _docstrings(tree)
        rel = os.path.relpath(path, _REPO)
        for node in tree.body:
            own = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if own and path.startswith(pkg + os.sep):
                if not (path == facade and not node.name.startswith("_")):
                    defs.append((rel, node.name))
            names = _names_used(node, skip)
            if own:  # a def naming itself (recursion) does not count
                names = [n for n in names if n != node.name]
            used.update(names)
    unnamed = sorted(f"{rel}:{name}" for rel, name in defs if name not in used)
    assert not unnamed, f"top-level defs nothing names: {unnamed}"


def test_every_config_field_is_read():
    """A KalyticalSparkConfig field that no non-test .py file other than
    config.py names is a dead setting: sys_config reports it (through
    asdict, which names no field) but setting it changes nothing."""
    config = os.path.join(_REPO, _PKG, "config.py")
    with open(config) as fh:
        tree = ast.parse(fh.read(), config)
    (cls,) = (
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "KalyticalSparkConfig"
    )
    fields = [n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)]
    assert fields
    used: set[str] = set()
    for path in _non_test_py_files():
        if path == config:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        used.update(_names_used(tree, _docstrings(tree)))
    unread = sorted(set(fields) - used)
    assert not unread, f"config fields nothing reads: {unread}"
