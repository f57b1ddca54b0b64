"""Every package name the scripts, jobs, bench harness, driver entry,
perfbench and the package's own modules import must still exist. The
files are parsed, never run: some of them start Spark at module level,
and many package imports sit inside function bodies, where a stale name
fails only when the function is called. Every script must also be
documented, so a one-off cannot outlive the run it was written for.

The other way round, every top-level package function and class must be
reached from the code that carries traffic: the query registry, the
jobs, ``bench.py``, the scripts, perfbench and the driver entry. Only
the references that tests compare live kernels against are exempt, and
the allowlist names them one by one."""

import ast
import functools
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


# The traffic roots: the query registry and every file that drives the
# package from outside it.
ROOTS = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("jobs/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py",
     *ROOT.glob("perfbench/*.py"), ROOT / PKG / "plans" / "__init__.py"]
)
MODULES = sorted(ROOT.glob(f"{PKG}/**/*.py"))

# Unreached on purpose: the slower or simpler implementations that tests
# compare the live kernels against.
REFERENCES = {
    f"{PKG}/operators/dedup.py": {"_minhash_mins_table"},
    f"{PKG}/operators/similarity.py": {"lsh_ann_topk"},
    f"{PKG}/sources/web_pages.py": {"extract_text"},
}


def _names(node) -> set[str]:
    """Every name ``node`` may reach: bare names, attribute names and the
    names a ``from`` import binds."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


@functools.cache
def _unreached() -> dict[str, set[str]]:
    """Top-level functions and classes per package module that no traffic
    root reaches. Reachability is by name, transitively: a reached
    definition reaches every top-level function, class or assignment its
    body names. Module-level statements other than definitions and
    imports run on import, so the names they use count as reached."""
    defs: dict[str, list] = {}  # name -> top-level nodes that define it
    named: dict[str, set[str]] = {}  # module -> its function and class names
    reached = set()
    for path in MODULES:
        mod = str(path.relative_to(ROOT))
        named[mod] = set()
        for st in ast.parse(path.read_text(), str(path)).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append(st)
                named[mod].add(st.name)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    if isinstance(t, ast.Name):
                        defs.setdefault(t.id, []).append(st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                reached |= _names(st)
    for path in ROOTS:
        reached |= _names(ast.parse(path.read_text(), str(path)))
    todo = list(reached & defs.keys())
    seen = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for node in defs[name]:
                todo.extend((_names(node) & defs.keys()) - seen)
    return {mod: names - seen for mod, names in named.items()}


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(ROOT)))
def test_every_package_function_is_reached(path):
    mod = str(path.relative_to(ROOT))
    dead = sorted(_unreached()[mod] - REFERENCES.get(mod, set()))
    assert not dead, (f"{mod}: {dead} reached by no query, job, script or "
                      "benchmark; delete them, or list a test reference in REFERENCES")


def test_reference_allowlist_is_exact():
    stale = {mod: sorted(names - _unreached().get(mod, set()))
             for mod, names in REFERENCES.items()}
    stale = {mod: names for mod, names in stale.items() if names}
    assert not stale, f"REFERENCES names that are reached or no longer defined: {stale}"
