"""Every package name the scripts, jobs, bench harness, driver entry,
perfbench and the package's own modules import must still exist. The
files are parsed, never run: some of them start Spark at module level,
and many package imports sit inside function bodies, where a stale name
fails only when the function is called. Every script must also be
documented, so a one-off cannot outlive the run it was written for."""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "parallel_count_min_sketch_spark"
SOURCES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("jobs/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py",
     *ROOT.glob("perfbench/*.py"), *ROOT.glob(f"{PKG}/**/*.py")]
)


def _absolute(path: Path, node: ast.ImportFrom) -> str:
    """The absolute module name of a (possibly relative) ``from`` import."""
    if node.level == 0:
        return node.module or ""
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    package = parts[:-1]  # a module's package; ``__init__``'s is its own dir
    base = package[:len(package) - node.level + 1]
    return ".".join([*base, node.module] if node.module else base)


def _package_imports(path: Path):
    """(line, module, name-or-None) for every import of the package."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom):
            module = _absolute(path, node)
            if module.split(".")[0] == PKG:
                for alias in node.names:
                    yield node.lineno, module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # `from pkg.operators import dedup` names a submodule
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_imports_resolve(path):
    missing = [f"{path.name}:{line}: from {module} import {name}"
               for line, module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, "\n".join(missing)


def test_every_script_is_documented():
    docs = "".join((ROOT / p).read_text()
                   for p in ("README.md", ".claude/skills/verify/SKILL.md"))
    orphans = [p.name for p in sorted(ROOT.glob("scripts/*.py"))
               if f"scripts/{p.name}" not in docs]
    assert not orphans, f"scripts named in neither README.md nor SKILL.md: {orphans}"
