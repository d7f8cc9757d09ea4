"""The generated docs match the registry, with no Spark session:
OPERATORS.md is exactly what ``tools/gen_operator_docs.py`` prints, and
COVERAGE.md's totals block passes ``tools/update_coverage_header.py
--check``.  A registry change that forgets to regenerate them fails
here."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _tool(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)


def test_operators_md_matches_generator():
    out = _tool("tools/gen_operator_docs.py")
    assert out.returncode == 0, out.stderr
    committed = (ROOT / "OPERATORS.md").read_text()
    assert out.stdout == committed, (
        "OPERATORS.md drifted from the registry — run "
        "`python tools/gen_operator_docs.py > OPERATORS.md`")


def test_coverage_totals_in_sync():
    out = _tool("tools/update_coverage_header.py", "--check")
    assert out.returncode == 0, out.stdout + out.stderr
