"""Import census: every library module under `sri_spark/` must have an
importer on a measured surface — the library itself, `bench.py`,
`scripts/`, `perfbench/` or `__spark_entry__.py`. Tests and examples do
not count: a module that only its own tests reach is code no measured
path runs, and it goes with its tests.

Imports are read with `ast`, so strings, comments and docstrings that
merely mention a module never count as importing it. Importing
`a.b.c` also imports the packages `a` and `a.b`, and `from a.b import c`
imports the module `a.b.c` when `c` is one.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "sri_spark"
IMPORTER_ROOTS = ("sri_spark", "bench.py", "scripts", "perfbench", "__spark_entry__.py")

# run, not imported: the ETL CLI is `python -m sri_spark.etl.run`
ENTRY_POINTS = {"sri_spark.etl.run"}

# orphans this census found when it was introduced, each still awaiting
# its decision: delete it with its tests, or route a measured caller to
# it. The list only shrinks — an entry that gains an importer or is
# deleted must leave it, and any orphan not listed here fails.
KNOWN_ORPHANS = {
    "sri_spark.multimodal": "binary codecs; multimodal_queries re-derives its columns in SQL",
    "sri_spark.text.chunker": "Python-UDTF twin of text_chunk_windows, checked against it",
    "sri_spark.plans.advisor": "the catalog's plan gate, run by the test suite",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _library_modules() -> set[str]:
    return {_module_name(p) for p in (REPO / PACKAGE).rglob("*.py")}


def _importer_files() -> list[Path]:
    files: list[Path] = []
    for root in IMPORTER_ROOTS:
        p = REPO / root
        files.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return files


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[: i + 1]) for i in range(len(parts))}


def _imported_modules(source: str, modules: set[str]) -> set[str]:
    """Every library module that `source` imports, packages included. The
    repo uses absolute imports only; a relative one would read as no
    import, so it can make this census fail but never pass wrongly."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found |= _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.module:
            found |= _with_parents(node.module)
            found |= {f"{node.module}.{alias.name}" for alias in node.names}
    return found & modules


def unimported_modules() -> list[str]:
    names = _library_modules()
    imported: set[str] = set()
    for f in _importer_files():
        own = _module_name(f) if f.is_relative_to(REPO / PACKAGE) else ""
        imported |= _imported_modules(f.read_text(), names) - {own}
    return sorted(names - imported - ENTRY_POINTS - {PACKAGE})


def test_every_library_module_has_a_non_test_importer():
    orphans = [m for m in unimported_modules() if m not in KNOWN_ORPHANS]
    assert not orphans, (
        "library modules with no importer outside tests/ and examples/: "
        + ", ".join(orphans)
    )


def test_known_orphans_are_still_orphans():
    stale = sorted(set(KNOWN_ORPHANS) - set(unimported_modules()))
    assert not stale, f"no longer orphans, drop them from KNOWN_ORPHANS: {stale}"


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
