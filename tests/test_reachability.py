"""Every top-level name in ``gdal_spark/`` is reached from a real entry point.

The roots are the contract registries (``QUERIES``/``ORACLES`` in
``gdal_spark/queries``), ``__spark_entry__.py``, the ``perfbench`` package,
``bench.py``, ``scripts/`` and the ``python -m gdal_spark`` CLI. Tests are
not roots: a function that only its own tests call is dead code. Numpy
oracles that tests compare the engine against are the one exception and
are listed in ``TEST_ORACLES``.

The graph is built from the AST alone (no import, no Spark session). A
reference is any identifier a definition's body names (``Name``,
``Attribute``, ``import ... as``) or any identifier-shaped string constant
(``__import__("gdal_spark.kml", fromlist=["kml_ingest_sql"])``,
``"gdal_spark.pydaemon"``). References resolve by name alone, so a name
shared by two modules keeps both alive: the check can miss dead code but
never flags live code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gdal_spark"

# Independent numpy oracles: the engine runs the SQL or Arrow twin of each,
# tests compare against these.
TEST_ORACLES = {
    ("cells", "cell_id_np"),
    ("cells", "unpack_cell_id"),
    ("geom", "polygon_centroid"),
    ("lineclip", "clip_segment_np"),
    ("polygonize", "trace_component_rings"),
    ("crs", "haversine_m"),
    ("raster", "hillshade_np"),
    ("crs", "osgb36_fwd_np"),
    ("crs", "osgb36_inv_np"),
    ("simsearch", "neardup_pairs_bruteforce"),
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*\Z")


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` references."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            out.update(n.value.split("."))
    return out


def _targets(stmt: ast.stmt) -> list[str]:
    """Top-level names a module statement defines, [] for any other."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) \
            else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(PACKAGE).with_suffix("").parts)


def package_graph():
    """({(module, name): referenced identifiers}, root identifiers).

    Module statements that define nothing (``if __name__ == "__main__"``,
    bare calls) run on import, so they are roots; imports are not: an
    imported name counts only where it is used."""
    defs: dict[tuple[str, str], set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _module_name(path)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            names = _targets(stmt)
            if names:
                for name in names:  # ``REGISTRY[k] = ...`` adds to REGISTRY
                    defs.setdefault((mod, name), set()).update(_names(stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    return defs, roots


def entry_roots() -> set[str]:
    """Identifiers the non-test entry points reference."""
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             PACKAGE / "__main__.py", *sorted((ROOT / "scripts").glob("*.py")),
             *sorted(p for p in (ROOT / "perfbench").rglob("*.py")
                     if "tests" not in p.relative_to(ROOT).parts)]
    out = {"QUERIES", "ORACLES"}
    for path in files:
        out |= _names(ast.parse(path.read_text(), str(path)))
    return out


def unreached() -> list[tuple[str, str]]:
    defs, roots = package_graph()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    seen: set[tuple[str, str]] = set()
    todo = list(roots | entry_roots())
    done: set[str] = set()
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        for key in by_name.get(name, ()):
            seen.add(key)
            todo.extend(defs[key] - done)
    return sorted(k for k in defs
                  if k not in seen and not k[1].startswith("__"))


def test_every_package_name_is_reached():
    dead = [k for k in unreached() if k not in TEST_ORACLES]
    assert not dead, "reached by no entry point: " + ", ".join(
        f"{m}.{n}" for m, n in dead)


def test_oracle_list_is_current():
    defs, _ = package_graph()
    assert TEST_ORACLES <= set(defs), TEST_ORACLES - set(defs)


def test_graph_sees_dynamic_imports():
    # The textpipe oracle reaches kml_ingest_sql only through a
    # ``fromlist`` string, and the session names the worker daemon module
    # only as a string.
    defs, _ = package_graph()
    assert "kml_ingest_sql" in defs[("queries.textpipe", "ORACLES")]
    assert "pydaemon" in defs[("session", "_worker_daemon")]
