"""Smoke test for the git-based parity tools: each compares the working
tree against ``HEAD`` on a few hundred inputs and must exit 0, so the
tools keep running as the code they load changes.  Skips outside a git
checkout."""

import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _in_git_checkout() -> bool:
    if shutil.which("git") is None:
        return False
    r = subprocess.run(["git", "rev-parse", "--verify", "-q", "HEAD"], cwd=ROOT,
                       capture_output=True)
    return r.returncode == 0


pytestmark = pytest.mark.skipif(not _in_git_checkout(), reason="not a git checkout")


@pytest.mark.parametrize(
    "tool", ["diff_parsers_base.py", "diff_stripper_base.py", "diff_pdf_base.py",
             "diff_udf_base.py"]
)
def test_tool_passes_against_head(tool):
    r = subprocess.run([sys.executable, str(ROOT / "tools" / tool), "HEAD", "300"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
