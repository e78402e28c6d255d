"""The end-to-end example scripts must keep running: they are the composed
showcase of the operator surface, and a rename or schema drift in any step
should fail CI, not the demo."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent


def test_llm_pipeline_example_runs(tmp_path):
    out = tmp_path / "shards"
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "run_llm_pipeline.py"),
         SF_SMALL, str(out)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "training docs" in proc.stdout
    # shards materialized, partitioned by split
    splits = {p.name for p in out.glob("split=*")}
    assert "split=train" in splits, sorted(out.iterdir())


def test_model_lifecycle_example_runs(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "run_model_lifecycle.py"),
         SF_SMALL, str(tmp_path / "wh")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "lifecycle complete" in proc.stdout
    assert "day-1 state" in proc.stdout


def test_reference_pipeline_example_runs(tmp_path):
    """The flagship example: the reference's CDC scripts and revenue view,
    run through the SQL front-end, serve a non-empty revenue table."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "run_pipeline.py"),
         str(tmp_path / "osb")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    served = re.search(r"movie_revenue_realtime \((\d+) movies\)", proc.stdout)
    assert served and int(served.group(1)) > 0, proc.stdout[-2000:]
