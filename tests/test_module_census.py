"""Import and name census: code under `sri_spark/` stays only while a
measured surface runs it — the library itself, `bench.py`, `scripts/`,
`perfbench/` or `__spark_entry__.py`. Tests and examples do not count:
code that only its own tests reach is code no measured path runs, and it
goes with its tests.

Two rules:
- every library module has an importer on a measured surface;
- every public top-level function and class is named on a measured
  surface outside its own body.

Both read the source with `ast`, so strings, comments and docstrings
that merely mention a module or a name never count. Importing `a.b.c`
also imports the packages `a` and `a.b`, and `from a.b import c`
imports the module `a.b.c` when `c` is one. A package `__init__` that
re-exports names (`from a.b.c import name`, `__all__`) imports nothing
by that and names nothing: the re-export is reached only if something
else uses the name. `from a.b import c` in an `__init__` still imports
the module `c` (that is how `plans/__init__` registers the catalog).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "sri_spark"
IMPORTER_ROOTS = ("sri_spark", "bench.py", "scripts", "perfbench", "__spark_entry__.py")

# run, not imported: the ETL CLI is `python -m sri_spark.etl.run`
ENTRY_POINTS = {"sri_spark.etl.run"}

# public names no measured surface calls, each kept for a stated reason
ALLOWED_UNNAMED = {
    "sri_spark/sources/sinks.py::register_sink": (
        "the seam through which tests plug a connector-shaped fake sink"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _library_files() -> list[Path]:
    return sorted((REPO / PACKAGE).rglob("*.py"))


def _library_modules() -> set[str]:
    return {_module_name(p) for p in _library_files()}


def _importer_files() -> list[Path]:
    files: list[Path] = []
    for root in IMPORTER_ROOTS:
        p = REPO / root
        files.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return files


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[: i + 1]) for i in range(len(parts))}


def _imported_modules(source: str, modules: set[str], package_init: bool = False) -> set[str]:
    """Every library module that `source` imports, packages included. The
    repo uses absolute imports only; a relative one would read as no
    import, so it can make this census fail but never pass wrongly. In a
    package `__init__` (`package_init`), `from a.b import name` is a
    re-export and does not import `a.b`."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found |= _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.module:
            if not package_init:
                found |= _with_parents(node.module)
            found |= {f"{node.module}.{alias.name}" for alias in node.names}
    return found & modules


def unimported_modules() -> list[str]:
    names = _library_modules()
    imported: set[str] = set()
    for f in _importer_files():
        own = _module_name(f) if f.is_relative_to(REPO / PACKAGE) else ""
        source = f.read_text()
        imported |= _imported_modules(source, names, f.name == "__init__.py") - {own}
    return sorted(names - imported - ENTRY_POINTS - {PACKAGE})


def _named(source: str, package_init: bool = False) -> list[tuple[str, int]]:
    """Every (name, line) that `source` uses: a `Name`, an `Attribute`'s
    attribute, or a name a `from` import binds. A package `__init__`'s
    `from` imports are re-exports and bind nothing here."""
    used: list[tuple[str, int]] = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Name):
            used.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            used.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom) and not package_init:
            used.extend((alias.name, node.lineno) for alias in node.names)
    return used


def _registered(node: ast.AST) -> bool:
    """A catalog builder under `@register(...)`: the registry calls it."""
    for deco in getattr(node, "decorator_list", []):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(fn, "id", None) == "register" or getattr(fn, "attr", None) == "register":
            return True
    return False


def _public_defs(path: Path) -> list[tuple[str, int, int]]:
    """(name, first line, last line) of each public top-level function and
    class that the registry does not call."""
    return [
        (node.name, node.lineno, node.end_lineno)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not _registered(node)
    ]


def unnamed_defs() -> list[str]:
    uses: dict[str, list[tuple[Path, int]]] = {}
    for f in _importer_files():
        for name, line in _named(f.read_text(), f.name == "__init__.py"):
            uses.setdefault(name, []).append((f, line))
    unnamed = []
    for f in _library_files():
        for name, first, last in _public_defs(f):
            if not any(g != f or not first <= line <= last for g, line in uses.get(name, [])):
                unnamed.append(f"{f.relative_to(REPO).as_posix()}::{name}")
    return sorted(unnamed)


def test_every_library_module_has_a_non_test_importer():
    orphans = unimported_modules()
    assert not orphans, (
        "library modules with no importer outside tests/ and examples/: "
        + ", ".join(orphans)
    )


def test_every_public_def_is_named_on_a_measured_surface():
    unnamed = [d for d in unnamed_defs() if d not in ALLOWED_UNNAMED]
    assert not unnamed, (
        "public functions and classes no measured surface names: " + ", ".join(unnamed)
    )


def test_allowed_unnamed_defs_are_still_unnamed():
    stale = sorted(set(ALLOWED_UNNAMED) - set(unnamed_defs()))
    assert not stale, f"now named on a measured surface, drop them from ALLOWED_UNNAMED: {stale}"


def test_census_reads_imports_not_text():
    source = (
        '"""sri_spark.dedup.exact is only named here."""\n'
        "from sri_spark.dedup import minhash\n"
        "import sri_spark.plans.registry as r\n"
    )
    assert _imported_modules(source, _library_modules()) == {
        "sri_spark",
        "sri_spark.dedup",
        "sri_spark.dedup.minhash",
        "sri_spark.plans",
        "sri_spark.plans.registry",
    }


def test_census_does_not_count_re_exports():
    source = (
        "from sri_spark.dedup.exact import exact_dedup_groups\n"
        "from sri_spark.plans import registry\n"
        '__all__ = ["exact_dedup_groups"]\n'
    )
    modules = _library_modules()
    assert _imported_modules(source, modules, package_init=True) == {"sri_spark.plans.registry"}
    assert "sri_spark.dedup.exact" in _imported_modules(source, modules)
    assert "exact_dedup_groups" not in {n for n, _ in _named(source, package_init=True)}
    assert "exact_dedup_groups" in {n for n, _ in _named(source)}


def test_census_reads_names_not_text():
    source = (
        "import sri_spark.dedup.exact as ex\n"
        "def helper(df):\n"
        '    """normalize_text is only named here."""\n'
        "    return helper(ex.exact_dedup_groups(df))\n"
    )
    named = {n for n, _ in _named(source)}
    assert {"helper", "ex", "exact_dedup_groups"} <= named
    assert "normalize_text" not in named
