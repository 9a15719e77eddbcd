"""scripts/cold_lane.py resolves every lane name before it starts a
session: an unknown name fails at once and is named."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent


def test_unknown_lane_exits_before_the_session():
    out = subprocess.run(
        [sys.executable, str(_ROOT / "scripts" / "cold_lane.py"), "/nonexistent",
         "q_j2", "q_no_such_lane", "q_ingest_1m"],
        cwd=_ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "unknown lane(s): q_no_such_lane (" in out.stderr
    assert "SparkContext" not in out.stderr and out.stdout == ""
