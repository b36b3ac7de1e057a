"""Every package module is imported from some entry point.

A pure-``ast`` scan, no Spark session: the import closure starts at the
entry points (``__spark_entry__.py``, the package's ``__main__``, the
streaming pipeline and the benchmark's ``perfbench/*.py``) and follows
every ``import`` statement, function-local ones included, so the plan
modules that ``plans.registry._load_all`` imports are reached through
``__spark_entry__``. A package module outside the closure is code no
caller runs; delete it together with the tests that exercise only it.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spark_streaming_invoice_anomaly_detection_spark"

ROOT_MODULES = (f"{PKG}.__main__", f"{PKG}.streaming.pipeline")
ROOT_FILES = ("__spark_entry__.py", "perfbench/*.py")

#: Unreached today, kept until the pipeline-metrics work (ROADMAP open
#: item 4) gives them a caller or the next re-anchor deletes them.
PENDING_CALLER = frozenset({
    f"{PKG}.streaming.drift",
    f"{PKG}.streaming.expectations",
})


def _module_path(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _package_modules() -> set[str]:
    mods = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts.pop()
        mods.add(".".join(parts))
    return mods


def _imported_names(path: str, name: str | None) -> set[str]:
    """Dotted names imported anywhere in ``path`` (module ``name``, or a
    top-level script when None): the module of each import plus, for
    ``from m import x``, the candidate submodule ``m.x``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level and name is not None:
                parts = name.split(".")
                anchor = parts if is_pkg else parts[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names)
    return out


def _closure() -> set[str]:
    seen: set[str] = set()
    todo: list[tuple[str, str | None]] = []
    for pattern in ROOT_FILES:
        todo += [(p, None) for p in sorted(glob.glob(os.path.join(ROOT, pattern)))]
    todo += [(_module_path(m), m) for m in ROOT_MODULES]
    while todo:
        path, name = todo.pop()
        for imported in _imported_names(path, name):
            if not imported.startswith(PKG):
                continue
            parts = imported.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                mod_path = _module_path(mod)
                if mod not in seen and mod_path is not None:
                    seen.add(mod)
                    todo.append((mod_path, mod))
    return seen | set(ROOT_MODULES)


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _package_modules() - _closure()
    dead = sorted(unreached - PENDING_CALLER)
    assert not dead, (
        f"package modules no entry point imports (delete them with the "
        f"tests that exercise only them): {dead}"
    )
    stale = sorted(PENDING_CALLER - unreached)
    assert not stale, f"reached or deleted, drop from PENDING_CALLER: {stale}"
