"""The package ships only what code outside tests/ reaches.

Two levels: every package module is imported by code outside tests/, and
every top-level function and class is referenced from code outside tests/
that is itself reached. Code that only its own tests call is dead weight
and gets deleted; a reference implementation that only tests use lives in
``tests/reference.py``.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Definitions kept although nothing outside tests/ reaches them. An entry
# must name the SURVEY.md/README.md row that maps it to a trefoil API no
# reached function implements. Allowlisted definitions count as reached,
# so the helpers they call stay too.
ALLOWLIST = {
    "trefoil_spark.grid.bbox.get_local_albers_projection":
        "SURVEY F25, README F20/F25: trefoil's get_local_albers_projection "
        "(1/6-inset rule); no reached function picks a projection",
    "trefoil_spark.functions.packing.get_fill_value":
        "SURVEY F15: trefoil's get_fill_value(dtype) over the netCDF4 "
        "default fill table; no reached function infers a fill value",
    "trefoil_spark.raster.autocrop.autocrop":
        "SURVEY P10, README P10: the all-nodata border trim of trefoil's "
        "convert; data_window_df (reached) only computes the window",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _sources() -> list[Path]:
    """Every .py file outside tests/ and hidden directories."""
    out = []
    for p in sorted(REPO.rglob("*.py")):
        top = p.relative_to(REPO).parts[0]
        if top != "tests" and not top.startswith("."):
            out.append(p)
    return out


def _imported_by(path: Path) -> set[str]:
    """Dotted names imported anywhere in ``path`` (lazy imports included);
    ``from m import x`` yields both m and m.x, relative imports resolved."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def _references(node: ast.AST) -> set[str]:
    """Identifiers ``node`` uses: Name ids, Attribute attrs and the last
    part of import aliases. Strings, docstrings, comments and ``__all__``
    entries are not AST names, so they never count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached_definitions(sources: list[Path], keep=()) -> list[str]:
    """Qualified names of top-level package functions and classes that no
    reached code references.

    Roots are module-level statements of every source file, every
    definition outside the package (bench.py, tools/, perfbench/, the
    entry contract) and the package definitions named in ``keep``. A
    package definition is reached when a root or an already reached
    definition names it; names inside a definition's own body do not
    count for it. Iterates to a fixpoint, so a helper whose only caller
    is unreached is itself unreached.
    """
    defs = {}  # qualified name -> (name, node)
    live = set()
    for p in sources:
        in_pkg = p.relative_to(REPO).parts[0] == "trefoil_spark"
        tree = ast.parse(p.read_text(), str(p))
        for stmt in tree.body:
            if in_pkg and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{_module_name(p)}.{stmt.name}"] = (stmt.name, stmt)
            else:
                live |= _references(stmt)
    reached = set()
    new = set(keep) & set(defs) | {
        q for q, (name, _) in defs.items() if name in live}
    while new:
        reached |= new
        for q in new:
            name, node = defs[q]
            live |= _references(node) - {name}
        new = {q for q, (name, _) in defs.items()
               if q not in reached and name in live}
    return sorted(set(defs) - reached)


def test_every_package_module_is_reached_outside_tests():
    imported = set()
    for p in _sources():
        imported |= _imported_by(p) - {_module_name(p)}
    modules = {_module_name(p) for p in (REPO / "trefoil_spark").rglob("*.py")
               if p.stem not in ("__init__", "__main__")}
    unreached = sorted(modules - imported)
    assert not unreached, f"imported by nothing outside tests/: {unreached}"


def test_every_package_definition_is_reached_outside_tests():
    sources = _sources()
    unreached = unreached_definitions(sources, keep=ALLOWLIST)
    assert not unreached, (
        f"{len(unreached)} definitions reached by nothing outside tests/ "
        "(delete them, or move test-only references to tests/reference.py):"
        "\n  " + "\n  ".join(unreached))
    stale = sorted(set(ALLOWLIST) - set(unreached_definitions(sources)))
    assert not stale, f"ALLOWLIST entries now reached or gone: {stale}"
