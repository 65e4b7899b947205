"""The scripts under scripts/ run as plain ``python scripts/<name>.py``.

That puts scripts/ first on sys.path, ahead of the standard library, so a
script named after a stdlib module (``profile``, ``trace``, ...) is what
every later ``import`` of that module gets: pyspark imports cProfile, which
imports ``profile``, and every script that starts Spark then fails."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))


def test_no_script_shadows_a_stdlib_module():
    clash = [p.name for p in SCRIPTS if p.stem in sys.stdlib_module_names]
    assert not clash, f"rename these scripts; they shadow the standard library: {clash}"


def test_run_extraction_cli_runs_as_a_script(tmp_path):
    """From any cwd: the Python workers, too, must find the package."""
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "run_extraction.py"),
         "--synthetic-convs", "2", "--buckets", "2", "--shuffle-partitions", "2",
         "--output", str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["turns"] > 0 and not metrics["resumed"], metrics
