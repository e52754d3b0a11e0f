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

Three more AST checks ride along: every default parameter of a public
package function is set by some call (tests count as callers here),
every import is used in its scope, and no two package functions share
argument names and body (a pasted copy).
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


# Keyword defaults no call sets, each kept for the reason given.
DEFAULT_ALLOW = {
    ("session", "get_spark", "extra_conf"):
        "deployment option: a job passes its own Spark settings",
}


def _call_roots() -> list[Path]:
    """Every file whose calls can set a package parameter, tests
    included."""
    return [*sorted(PACKAGE.rglob("*.py")), ROOT / "__spark_entry__.py",
            ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py")),
            *sorted((ROOT / "perfbench").rglob("*.py")),
            *sorted((ROOT / "tests").rglob("*.py"))]


def _public_functions():
    """(module, qualified name, FunctionDef) of every public top-level
    function and public method of a public class in the package."""
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _module_name(path)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, ast.FunctionDef) \
                    and not stmt.name.startswith("_"):
                yield mod, stmt.name, stmt
            elif isinstance(stmt, ast.ClassDef) \
                    and not stmt.name.startswith("_"):
                for m in stmt.body:
                    if isinstance(m, ast.FunctionDef) \
                            and not m.name.startswith("_"):
                        yield mod, f"{stmt.name}.{m.name}", m


def unset_defaults() -> list[tuple[str, str, str]]:
    """(module, function, parameter) for every default parameter that no
    call sets. Calls resolve by name alone; a call sets a parameter when
    it passes it by keyword, by position, or through ``*``/``**``."""
    calls: dict[str, list[ast.Call]] = {}
    for path in _call_roots():
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else None
                if name:
                    calls.setdefault(name, []).append(n)
    out = []
    for mod, qual, fn in _public_functions():
        a = fn.args
        pos = a.posonlyargs + a.args
        first_default = len(pos) - len(a.defaults)
        self_arg = 1 if "." in qual else 0  # a call does not pass ``self``
        params = [(p.arg, i - self_arg)
                  for i, p in enumerate(pos) if i >= first_default]
        params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                   if d is not None]
        sites = calls.get(qual.rsplit(".", 1)[-1], [])
        for name, index in params:
            if not any(
                    any(k.arg in (name, None) for k in c.keywords)
                    or (index is not None
                        and (len(c.args) > index
                             or any(isinstance(x, ast.Starred)
                                    for x in c.args)))
                    for c in sites):
                out.append((mod, qual, name))
    return out


def test_every_default_is_set_by_a_caller():
    unset = unset_defaults()
    assert set(DEFAULT_ALLOW) <= set(unset), \
        set(DEFAULT_ALLOW) - set(unset)  # a stale allow-list entry
    unset = [k for k in unset if k not in DEFAULT_ALLOW]
    assert not unset, "default no call sets (fold it into its value): " \
        + ", ".join(f"{m}.{f}({p})" for m, f, p in unset)


def _bound_names(node: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every name an import directly in ``node``'s body
    binds (nested function and class bodies are their own scopes)."""
    out = []
    todo = list(ast.iter_child_nodes(node))
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
            continue
        if isinstance(n, ast.Import):
            out += [(al.asname or al.name.split(".")[0], n.lineno)
                    for al in n.names]
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            out += [(al.asname or al.name, n.lineno) for al in n.names
                    if al.name != "*"]
        todo.extend(ast.iter_child_nodes(n))
    return out


def _used_names(node: ast.AST) -> set[str]:
    """Identifiers ``node`` uses: ``_names`` without the import
    statements' own aliases."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            out.update(n.value.split("."))
    return out


def unused_imports() -> list[tuple[str, int, str]]:
    """(module, line, name) of every import whose name its scope (the
    module, or the function that imports it) never uses. ``__init__``
    modules are skipped: their imports are re-exports."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        scopes = [tree] + [n for n in ast.walk(tree) if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for scope in scopes:
            used = _used_names(scope)
            out += [(_module_name(path), line, name)
                    for name, line in _bound_names(scope)
                    if name not in used]
    return sorted(out)


def test_no_unused_import():
    unused = unused_imports()
    assert not unused, "unused import: " + ", ".join(
        f"{m}:{line} {n}" for m, line, n in unused)


def _body_key(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> tuple:
    """(argument names, AST dump of the body) of ``fn``, docstrings and
    annotations left out at every nesting level."""

    def strip(node: ast.AST) -> None:
        for n in ast.walk(node):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n.returns = None
                if n.body and isinstance(n.body[0], ast.Expr) \
                        and isinstance(n.body[0].value, ast.Constant) \
                        and isinstance(n.body[0].value.value, str):
                    n.body = n.body[1:] or [ast.Pass()]
            elif isinstance(n, ast.arg):
                n.annotation = None
            elif isinstance(n, ast.AnnAssign):
                n.annotation = ast.Constant(None)

    fn = ast.parse(ast.unparse(fn)).body[0]  # a copy to strip
    strip(fn)
    a = fn.args
    names = tuple(p.arg for p in [*a.posonlyargs, *a.args, a.vararg,
                                  *a.kwonlyargs, a.kwarg] if p)
    return names, "\n".join(ast.dump(s) for s in fn.body)


def duplicate_bodies() -> list[list[str]]:
    """Groups of ``module:line name`` of functions in the package, nested
    ones included, that share argument names and body."""
    groups: dict[tuple, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                groups.setdefault(_body_key(n), []).append(
                    f"{_module_name(path)}:{n.lineno} {n.name}")
    return [g for g in groups.values() if len(g) > 1]


def test_no_duplicate_function_body():
    dups = duplicate_bodies()
    assert not dups, "pasted function bodies (fold into one): " + "; ".join(
        ", ".join(g) for g in dups)
