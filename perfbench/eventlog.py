"""Fold Spark's event log into per-layer metrics for one job group.

The benchmark tags the jobs of its timed repetitions with a job group; this
module sums the ``TaskEnd`` metrics and the Python-runner accumulables of
the stages those jobs ran.  Spark 4.1 writes a rolling zstd log
(``eventlog_v2_<app>/events_<n>_<app>.zstd``); ``pyarrow`` decompresses it.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pyarrow as pa

# Python-runner SQL metrics, as named in the task accumulables
_PY_ACCUMS = {
    "time to start Python workers": ("python.worker_start_s", 1e-3),
    "time to initialize Python workers": ("python.worker_init_s", 1e-3),
    "time to run Python workers": ("python.worker_run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_to_worker", 1.0),
    "data returned from Python workers": ("python.bytes_from_worker", 1.0),
}
METRICS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.task_skew",
) + tuple(name for name, _ in _PY_ACCUMS.values())


def _lines(path: Path):
    if path.suffix in (".zstd", ".zst"):
        with pa.OSFile(str(path), "rb") as raw, pa.CompressedInputStream(raw, "zstd") as f:
            data = f.read()
    elif path.suffix in ("", ".inprogress"):
        data = path.read_bytes()
    else:
        raise ValueError(f"unsupported event-log codec: {path.name}")
    for line in data.decode("utf-8").splitlines():
        if line.strip():
            yield json.loads(line)


def _log_files(log_dir: Path) -> list[Path]:
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def order(p: Path):  # rolling files are events_<n>_<app>
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(files, key=order)


def fold(log_dir: Path, group: str, reps: int) -> dict[str, float]:
    """Per-repetition metrics of the jobs run under job group ``group``."""
    stages: set[int] = set()
    tasks: list[dict] = []
    for path in _log_files(log_dir):
        for ev in _lines(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out = dict.fromkeys(METRICS, 0.0)
    per_stage: dict[int, list[float]] = {}
    for ev in tasks:
        if ev.get("Stage ID") not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_run_s"] += run_s
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        per_stage.setdefault(ev["Stage ID"], []).append(run_s)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = _PY_ACCUMS.get(acc.get("Name"))
            if hit is not None:
                out[hit[0]] += float(acc.get("Update") or 0) * hit[1]
    # skew: max/mean task run time per stage, weighted by the stage's run time
    weighted, weight = 0.0, 0.0
    for runs in per_stage.values():
        total = sum(runs)
        if len(runs) >= 2 and total > 0:
            weighted += total * (max(runs) / statistics.fmean(runs))
            weight += total
    reps = max(1, reps)
    for k in out:
        out[k] /= reps
    out["spark.task_skew"] = weighted / weight if weight else 1.0
    return out
