"""Shared by the ``diff_*_base.py`` tools: import some of this package's
modules as of a git revision, next to the working tree's."""

from __future__ import annotations

import importlib
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_base(ref: str, subpkg: str, modules, into: Path) -> dict:
    """Write ``receipt_scanner_spark/<subpkg>/<name>.py`` as of ``ref`` for
    each name in ``modules`` into the package ``base_<subpkg>`` under
    ``into`` and import them; returns {name: module}.  The modules may
    import each other relatively, so ``modules`` must hold all they need."""
    pkg = into / f"base_{subpkg}"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    for name in modules:
        src = subprocess.run(
            ["git", "show", f"{ref}:receipt_scanner_spark/{subpkg}/{name}.py"],
            cwd=ROOT, capture_output=True, check=True, text=True,
        ).stdout
        (pkg / f"{name}.py").write_text(src)
    sys.path.insert(0, str(into))
    return {name: importlib.import_module(f"base_{subpkg}.{name}") for name in modules}
