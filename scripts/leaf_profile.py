#!/usr/bin/env python
"""Per-leaf query profile: wall time, build jobs, process-tree CPU and the
Spark event-log fold of every (leaf, scale) cell, in one session.

Usage:
    python scripts/leaf_profile.py --sf DIR [--sf DIR ...] [--rounds N]
                                   [--explain DIR] [--out PATH] [leaf ...]

- Leaves default to bench.py's headline list plus x_extract_transcripts;
  the session is bench.py's (``build_spark`` on every core this process
  may run on; pin it with ``taskset`` to profile fewer) with the same
  warm-up.
- Every round runs each (leaf, sf) cell once, interleaved, with
  ``clearCache`` first.  A cell is built under job group
  ``<leaf>@<sf>:build`` and written to the noop sink under
  ``<leaf>@<sf>``; ``x_extract_transcripts`` runs through
  ``bench.bench_extraction``, whose corpus, count and warm pass are its
  build and whose timed pass is its action.
- After the session stops, ``perfbench.eventlog.fold`` sums each cell's
  action stages, one cell per process of a pool with one process per
  core.  README.md "Reading a profile" explains the fields.
- A cell's wall leaves out the profiler's own bookkeeping between build
  and action (the build-job count and the CPU reading).
- ``--explain DIR`` writes ``<leaf>@<sf>.txt`` (formatted plan) in round
  one, after the action; the extraction leaf has no single plan.
"""

from __future__ import annotations

import argparse
import ast
import json
import multiprocessing
import os
import shlex
import statistics
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from itertools import repeat
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, meter  # noqa: E402

EXTRACT_LEAF = "x_extract_transcripts"


def headline() -> list[str]:
    """bench.py's headline list, read without importing or editing it."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "headline" for t in node.targets
        ):
            return ast.literal_eval(node.value) + [EXTRACT_LEAF]
    raise LookupError("bench.py has no headline list")


def sf_of(sf_dir: str) -> float:
    """bench.py's scale factor: the number after the last 'sf' in the dir,
    else 0.1."""
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        return 0.1


def schema_read(st, job_id: int) -> bool:
    """Whether a job is the schema inference every ``spark.read.parquet``
    runs: all its stages carry the reader's call site."""
    info = st.getJobInfo(job_id)
    stages = [st.getStageInfo(s) for s in info.stageIds] if info else []
    return bool(stages) and all(s is not None and s.name.startswith("parquet at ") for s in stages)


class Cell:
    """One (leaf, sf) cell: per-attempt walls, builds, actions and CPU."""

    def __init__(self, leaf: str, label: str, sf_dir: str):
        self.leaf, self.sf_dir, self.sf = leaf, sf_dir, sf_of(sf_dir)
        self.group = f"{leaf}@{label}"
        self.wall, self.build, self.run, self.cpu, self.jobs = [], [], [], [], []
        self._seen: set[int] = set()

    def start(self, sc) -> None:
        sc.setJobGroup(f"{self.group}:build", self.group)
        self._t0 = time.perf_counter()

    def begin_action(self, sc) -> None:
        """Close the build phase: count its new jobs, schema reads aside,
        and switch job group.  The time this takes is kept out of the wall."""
        self._tb = t = time.perf_counter()
        st = sc.statusTracker()
        new = set(st.getJobIdsForGroup(f"{self.group}:build")) - self._seen
        self._seen |= new
        self.jobs.append(sum(not schema_read(st, j) for j in new))
        self.build.append(t - self._t0)
        sc.setJobGroup(self.group, self.group)
        self._cpu0 = meter.tree_cpu_s(os.getpid())
        self._t1 = time.perf_counter()

    def end(self, sc, wall: float | None = None) -> None:
        t = time.perf_counter()
        self.cpu.append(meter.tree_cpu_s(os.getpid()) - self._cpu0)
        sc._jsc.clearJobGroup()
        self.run.append(t - self._t1)
        wall = wall if wall is not None else t - self._t0
        self.wall.append(round(wall - (self._t1 - self._tb), 3))

    def report(self, fold: dict[str, float], cores: int) -> dict:
        run_s = statistics.fmean(self.run)  # the fold is a per-round mean too
        busy = fold["spark.executor_run_s"]
        return {
            "best_s": min(self.wall),
            "median_s": statistics.median(self.wall),
            "attempts_s": self.wall,
            "build_s": round(statistics.median(self.build), 3),
            "build_jobs": max(self.jobs),
            "run_s": round(run_s, 3),
            "cpu_s": round(statistics.median(self.cpu), 3),
            **{k: round(v, 4) for k, v in fold.items()},
            "occupancy": round(busy / (run_s * cores), 4),
            "uncovered_s": round(run_s - busy / cores, 3),
        }


def run_query(spark, q, cell: Cell, explain: str | None) -> None:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    cell.start(sc)
    df = q[cell.leaf](spark, cell.sf_dir)
    cell.begin_action(sc)
    df.write.format("noop").mode("overwrite").save()
    cell.end(sc)
    if explain:
        plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        Path(explain, f"{cell.group}.txt").write_text(plan)


def run_extraction(spark, cell: Cell) -> None:
    """bench.bench_extraction once; its second extract_transcripts call
    (the timed pass, after the warm pass) starts the action."""
    from bench import bench_extraction
    from rapidocr_spark.operators import extract

    sc = spark.sparkContext
    calls = []

    def on_call(_args, _df) -> None:
        calls.append(1)
        if len(calls) == 2:
            cell.begin_action(sc)

    hook = meter.Tracer(True)
    hook.wrap(extract, "extract_transcripts", "extract_transcripts", on_result=on_call)
    try:
        spark.catalog.clearCache()
        cell.start(sc)
        timed, _turns = bench_extraction(spark, max(120, int(12000 * cell.sf)), 1)
        cell.end(sc, wall=timed)
    finally:
        hook.close()


def run_session(args, q, cells: list[Cell], cores: int) -> int:
    """bench.py's session and warm-up, then every cell once per round;
    returns the process tree's peak RSS in bytes."""
    from bench import build_spark

    rss = meter.RssSampler(os.getpid())
    spark = build_spark(cores, app="rapidocr-spark-profile")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warm = args.sf[0]
        spark.read.parquet(f"{warm}/lineitem.parquet").agg({"l_quantity": "sum"}).collect()
        for name in ("doc_token_stats", "mm_decode_meta"):
            q[name](spark, warm).write.format("noop").mode("overwrite").save()
        for r in range(args.rounds):
            for cell in cells:
                if cell.leaf == EXTRACT_LEAF:
                    run_extraction(spark, cell)
                else:
                    run_query(spark, q, cell, args.explain if r == 0 else None)
                print(json.dumps({"round": r, "cell": cell.group, "wall_s": cell.wall[-1],
                                  "build_jobs": cell.jobs[-1]}), file=sys.stderr, flush=True)
    finally:
        spark.stop()
        rss.close()
    return rss.peak


def dump(out: dict) -> str:
    """JSON with one line per cell, so two profiles diff cell by cell."""
    head = json.dumps({k: v for k, v in out.items() if k != "cells"})
    cells = ",\n".join(f" {json.dumps(k)}: {json.dumps(v)}" for k, v in out["cells"].items())
    return f'{head[:-1]}, "cells": {{\n{cells}\n}}}}'


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("leaves", nargs="*", help="registry names (default: bench.py headline + x_extract_transcripts)")
    ap.add_argument("--sf", action="append", required=True, help="table dir; repeat for more scales")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--explain", help="dir for <leaf>@<sf>.txt formatted plans")
    ap.add_argument("--out", help="write the JSON profile here too")
    args = ap.parse_args()

    from rapidocr_spark.plans.shell import queries

    q = queries()
    leaves = list(dict.fromkeys(args.leaves)) or headline()
    unknown = [n for n in leaves if n not in q and n != EXTRACT_LEAF]
    if unknown:
        ap.error(f"unknown leaves: {' '.join(unknown)}")
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    labels = [os.path.basename(d.rstrip("/")) for d in args.sf]
    if len(set(labels)) < len(labels):
        ap.error(f"--sf dirs must have distinct base names: {' '.join(labels)}")
    cells = [Cell(leaf, label, d) for leaf in leaves for label, d in zip(labels, args.sf)]

    cores = len(os.sched_getaffinity(0))
    with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as tmp:
        # the event log, turned on as perfbench/run.py does; Python workers
        # find the package through PYTHONPATH from any cwd
        log_dir = Path(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={log_dir.as_uri()}",
            "pyspark-shell",
        ])
        t = time.perf_counter()
        peak_rss = run_session(args, q, cells, cores)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        # every fold re-reads the whole log, so the cells fold in parallel;
        # spawn, since py4j's threads outlive the stopped session
        groups = [c.group for c in cells]
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=min(cores, len(groups)), mp_context=ctx) as pool:
            folds = dict(zip(groups, pool.map(eventlog.fold, repeat(log_dir), groups, repeat(args.rounds))))
        fold_s = time.perf_counter() - t
        log_mb = sum(p.stat().st_size for p in log_dir.rglob("*") if p.is_file()) / 2**20

    out = {
        "cores": cores,
        "rounds": args.rounds,
        "session_s": round(session_s, 1),
        "fold_s": round(fold_s, 1),
        "eventlog_mb": round(log_mb, 1),
        "peak_rss_mb": round(peak_rss / 2**20),
        "cells": {c.group: c.report(folds[c.group], cores) for c in cells},
    }
    text = dump(out)
    if args.out:
        Path(args.out).write_text(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
