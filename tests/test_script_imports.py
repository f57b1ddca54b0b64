"""Every package name the scripts, jobs, bench harnesses and perfbench
import must still exist. The files are parsed, never imported or run:
some of them start Spark at module level."""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "parallel_count_min_sketch_spark"
SOURCES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("jobs/*.py"),
     ROOT / "bench.py", ROOT / "bench_extra.py", *ROOT.glob("perfbench/*.py")]
)


def _package_imports(path: Path):
    """(line, module, name-or-None) for every import of the package."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
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
