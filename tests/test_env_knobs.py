"""The program's environment knobs are a pinned set: adding or retiring a
``SPARK_GRAFT_*`` name shows up as an edit to this test."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# read by the program, its scripts and bench.py; tests/ and perfbench/ set
# knobs for the program rather than define them
KNOBS = {
    "SPARK_GRAFT_CHECKPOINT",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_REPLICATE",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SKIP_CKPT",
    "SPARK_GRAFT_SKIP_QUERIES",
    "SPARK_GRAFT_STAGE_TIMES",
}

_SKIP_DIRS = {"tests", "perfbench", "dist", "__pycache__"}


def _program_files():
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts[:-1]
        if not any(p in _SKIP_DIRS or p.startswith(".") for p in parts):
            yield path


def test_env_knob_set_is_pinned():
    found: dict[str, set[str]] = {}
    for path in _program_files():
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]", path.read_text()):
            found.setdefault(name, set()).add(str(path.relative_to(ROOT)))
    assert set(found) == KNOBS, {n: sorted(found[n]) for n in set(found) - KNOBS}
