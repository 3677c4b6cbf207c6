"""Tools and tests find the checkout they run from. A hard-coded absolute
checkout path makes a copy of the repo check or bench another tree's code
without saying so."""
from __future__ import annotations

import re
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# an absolute path literal put on sys.path imports whatever code sits there
_ABS_SYS_PATH = re.compile(
    r"""sys\.path\.(?:insert\(\s*\d+\s*,|append\()\s*["']/""")


def _tracked_py() -> list[Path]:
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT,
                         capture_output=True, text=True)
    if out.returncode == 0:
        return [ROOT / p for p in out.stdout.split()]
    return list(ROOT.rglob("*.py"))


def test_no_python_file_hard_codes_a_checkout_path():
    files = _tracked_py()
    assert ROOT / "tests" / "conftest.py" in files
    own = str(ROOT)
    bad = [str(p.relative_to(ROOT)) for p in files
           if own in (text := p.read_text(errors="replace"))
           or _ABS_SYS_PATH.search(text)]
    assert not bad, f"hard-coded checkout path in: {bad}"
