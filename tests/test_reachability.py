"""Every package module is imported by code outside tests/ — a module that
only its own tests import is dead weight and gets deleted, not kept."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


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


def test_every_package_module_is_reached_outside_tests():
    imported = set()
    for p in REPO.rglob("*.py"):
        top = p.relative_to(REPO).parts[0]
        if top != "tests" and not top.startswith("."):
            imported |= _imported_by(p) - {_module_name(p)}
    modules = {_module_name(p) for p in (REPO / "trefoil_spark").rglob("*.py")
               if p.stem not in ("__init__", "__main__")}
    unreached = sorted(modules - imported)
    assert not unreached, f"imported by nothing outside tests/: {unreached}"
