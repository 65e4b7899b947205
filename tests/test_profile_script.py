"""scripts/leaf_profile.py end to end at the smallest scale: every cell carries
the documented fields, the event-log fold sees the action's tasks, and
build-time jobs are attributed to the build, not to the action."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from perfbench.eventlog import METRICS

ROOT = Path(__file__).resolve().parent.parent
SF_DIR = os.environ.get("PARITY_SF_DIR", str(Path.home() / "testdata" / "sf0.001"))
LEAVES = ("doc_token_stats", "ann_ivf_cells")
FIELDS = ("best_s", "median_s", "attempts_s", "build_s", "build_jobs", "run_s", "cpu_s",
          "occupancy", "uncovered_s") + METRICS


def test_profile_cells_fold_and_attribute_build_jobs(tmp_path):
    plans = tmp_path / "plans"
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "leaf_profile.py"), "--sf", SF_DIR,
         "--rounds", "1", "--explain", str(plans), *LEAVES],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    prof = json.loads(proc.stdout)
    label = os.path.basename(SF_DIR.rstrip("/"))
    assert prof["rounds"] == 1 and prof["cores"] >= 1
    assert set(prof["cells"]) == {f"{leaf}@{label}" for leaf in LEAVES}
    for name, cell in prof["cells"].items():
        missing = [f for f in FIELDS if f not in cell]
        assert not missing, (name, missing)
        assert len(cell["attempts_s"]) == 1
        assert isinstance(cell["build_jobs"], int), name
        assert cell["spark.executor_run_s"] > 0, name
    # a plain scan-and-project leaf builds without running a job; a job
    # of its noop write counted here would mean the groups leak
    assert prof["cells"][f"doc_token_stats@{label}"]["build_jobs"] == 0
    for leaf in LEAVES:
        plan = plans / f"{leaf}@{label}.txt"
        assert plan.is_file() and "Physical Plan" in plan.read_text()
    assert sorted(p.name for p in plans.iterdir()) == sorted(f"{leaf}@{label}.txt" for leaf in LEAVES)
