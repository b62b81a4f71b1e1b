"""Every module of the package is reached from an entry point: the CLI
(`hummingbird_spark.__main__`), `bench.py`, `__spark_entry__.py`, the
benchmark (`perfbench/`) or a script (`scripts/`). A module that only
tests import is code nothing runs, so it fails this test until it is
deleted or an entry point uses it.

The walk reads imports with `ast`, without importing anything: module
level and function level, absolute and relative. Importing a module
also runs its parent packages' `__init__.py`, so those are walked too.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hummingbird_spark"


def _entry_files() -> list[Path]:
    """The entry points outside the package."""
    return [ROOT / "bench.py", ROOT / "__spark_entry__.py",
            *sorted((ROOT / "perfbench").glob("*.py")),
            *sorted((ROOT / "scripts").glob("*.py"))]


def _package_modules() -> dict[str, Path]:
    """Dotted name -> file of every module in the package (a package
    is named by its `__init__.py`)."""
    out = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, name: str | None, modules: dict) -> set[str]:
    """The package modules that the file at `path` (module `name`, None
    outside the package) imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if name is None:
                    continue
                here = name.split(".") if is_pkg else name.split(".")[:-1]
                up = here[:len(here) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            found.add(base)
            # `from pkg import mod` names a module, not only an attribute
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for dotted in found:
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def unreached_modules() -> list[str]:
    modules = _package_modules()
    main = f"{PACKAGE}.__main__"
    todo = [(path, None) for path in _entry_files()] + [(modules[main], main)]
    seen = {main}
    while todo:
        path, name = todo.pop()
        for mod in _imported(path, name, modules) - seen:
            seen.add(mod)
            todo.append((modules[mod], mod))
    return sorted(set(modules) - seen)


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached_modules() == []
