"""Package layout guard: every module of ``receipt_scanner_spark`` is
imported by code that is not a test — another package module, a job, a
tool, the benchmark harness or the battery entry.  A module only tests
import is code no caller runs."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "receipt_scanner_spark"
IMPORTERS = ("jobs", "tools", "perfbench", "__spark_entry__.py")


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Dotted names ``path`` imports, anywhere in the file: ``import a.b``
    gives ``a`` and ``a.b``; ``from a import b`` gives ``a`` and ``a.b``
    (``b`` may be a submodule); relative imports are resolved against
    the file's package."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = [node.module] if node.module else []
            if node.level:
                base = package[: len(package) - node.level + 1] + base
            base = ".".join(base)
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    # importing a.b.c imports the packages a and a.b first
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def test_every_package_module_has_a_non_test_importer():
    modules = {_module_name(p): p for p in sorted(PACKAGE.rglob("*.py"))}
    importers = list(modules.values())
    for name in IMPORTERS:
        target = ROOT / name
        importers += sorted(target.rglob("*.py")) if target.is_dir() else [target]
    imported_by: dict[str, set[Path]] = {}
    for path in importers:
        for name in _imported(path):
            imported_by.setdefault(name, set()).add(path)
    orphans = [
        str(path.relative_to(ROOT))
        for name, path in modules.items()
        if not imported_by.get(name, set()) - {path}
    ]
    assert not orphans, f"imported by tests only: {orphans}"
