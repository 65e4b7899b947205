#!/usr/bin/env python3
"""rapidocr_spark benchmark: one Spark session per run, two workloads.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  The lines above it are a human-readable report.  Inputs,
oracles and scratch output live under ``.perfbench_work/`` in the
checkout.  NOTES.md explains the workloads and the metrics.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, as far as setup_s is concerned

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

WORKLOADS = ("extract_fresh", "corpus_prep")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_units(root: Path) -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    BENCHMARK.json declares them."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def sf_dir() -> Path:
    """The fixed corpus-prep tables: $SPARK_GRAFT_SF_DIR, else the sf0.1
    tier of the shared test data in the home directory."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    return Path(env) if env else Path.home() / "testdata" / "sf0.1"


def untraced_job_s(cache: Path, workload: str, seed: int) -> float:
    """job_s of the untraced run of the same workload and code in this
    checkout, preferring the same seed; 0 when there has been none."""
    records = _load_records(cache).get(workload, {})
    if not records:
        return 0.0
    return records.get(str(seed), statistics.median(records.values()))


def _load_records(cache: Path) -> dict:
    path = cache / "untraced.json"
    return json.loads(path.read_text()) if path.exists() else {}


def _save_record(cache: Path, workload: str, seed: int, job_s: float) -> None:
    data = _load_records(cache)
    data.setdefault(workload, {})[str(seed)] = job_s
    tmp = cache / "untraced.json.tmp"
    tmp.write_text(json.dumps(data))
    os.replace(tmp, cache / "untraced.json")


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def stop_spark(spark, pid: int) -> None:
    """Stop the session, then wait for the JVM and every process under it
    (the Python daemon and workers) to exit, killing stragglers after a
    grace period."""
    from pyspark import SparkContext

    from meter import tree_pids

    proc = getattr(SparkContext._gateway, "proc", None)
    started = set(tree_pids(proc.pid if proc is not None else pid)) - {pid}
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    needed = ("rapidocr_spark/__init__.py", "bench.py", "tests/test_oracle_parity.py", "BENCHMARK.json")
    missing = [n for n in needed if not (root / n).is_file()]
    if missing:
        print(f"perfbench: run from the root of a rapidocr_spark checkout "
              f"({', '.join(missing)} not found)", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_units(root)
    bench_dir = Path(__file__).resolve().parent
    sys.path[:0] = [str(root), str(bench_dir)]
    work = root / ".perfbench_work"
    work.mkdir(exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    import inputs
    import workloads
    from meter import JvmClock, RssSampler, Tracer, host_loop_s

    own = time.perf_counter()
    host_loop = [host_loop_s() for _ in range(3)]
    cache = work / "cache" / inputs.code_key(root)
    cache.mkdir(parents=True, exist_ok=True)
    if args.workload == "corpus_prep":
        tables = sf_dir()
        if not all((tables / f"{t}.parquet").is_file() for t in inputs.SF_TABLES):
            print(f"perfbench: corpus-prep tables not found in {tables}", file=sys.stderr)
            return 2
        rows_fn = inputs.load_parity(root)
        oracle_rows = inputs.corpus_oracle(cache, tables, rows_fn)
    else:
        corpus = inputs.Corpus(cache, args.seed, nproc)
    own = time.perf_counter() - own

    # Spark's scratch space, and the event log of a traced run
    tmp = work / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # -UsePerfData: the JVM would otherwise write its perf counters outside
    # the checkout
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
              "--conf", "spark.ui.showConsoleProgress=false"]
    eventlog_dir = tmp / "eventlog"
    if traced:
        eventlog_dir.mkdir()
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir={eventlog_dir.as_uri()}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    from bench import build_spark

    pid = os.getpid()
    rss = RssSampler(pid)
    tracer = Tracer(traced)
    t = time.perf_counter()
    spark = build_spark(nproc)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(spark, JvmClock(spark), tracer, work, args.seconds, pid)
        ctx.own_s = own
        ctx.host_loop = host_loop
        if args.workload == "corpus_prep":
            wl = workloads.CorpusPrep(ctx, tables, oracle_rows, rows_fn)
        else:
            wl = workloads.Extract(ctx, corpus)
        try:
            wl.setup()
            ctx.measure(wl.prepare, wl.operate, wl.verify, wl.MIN_REPS)
            layers = wl.probes() if traced else {}
        finally:
            wl.close()
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark, pid)
        rss.close()
        t_stopped = time.perf_counter()

    good = ctx.done_reps()
    if not good:
        print("\n".join(ctx.notes), file=sys.stderr)
        print("perfbench: no repetition ran to the end", file=sys.stderr)
        return 1
    job_s = statistics.median(r["wall_s"] for r in good)
    items = sum(r["items"] for r in good)
    e2e = {
        "setup_s": ctx.first_rep_at - _T0 - ctx.own_s,
        "job_s": job_s,
        "items_per_s": statistics.median(r["items"] / r["wall_s"] for r in good),
        "cpu_s_per_item": sum(r["cpu_s"] for r in good) / items,
    }
    fail_frac = ctx.failed / ctx.attempted
    peak_rss_mb = rss.peak / 2**20

    report = [f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} nproc={nproc}"]
    report.append(f"setup: session {session_s:.3f} s, own work {ctx.own_s:.3f} s, "
                  f"jit {ctx.setup_jvm[0]:.2f} s, gc {ctx.setup_jvm[1]:.2f} s")
    for i, r in enumerate(ctx.reps):
        report.append(f"rep {i}: wall {r['wall_s']:.3f} s  cpu {r['cpu_s']:.2f} s  "
                      f"jit {r['jit_s']:.2f} s  gc {r['gc_s']:.2f} s  items {r['items']}  "
                      f"{'ok' if r['ok'] else 'FAILED'}  "
                      + " ".join(f"{w:.2f}" for w in r.get("query_s", ())))
    report += ctx.notes
    for k, v in e2e.items():
        report.append(f"{k} = {v:.6g} {e2e_units[k]}")
    if args.workload != "corpus_prep":
        out_bytes = statistics.median(r["out_bytes_per_item"] for r in good)
        report.append(f"out_bytes_per_item = {out_bytes:.6g} B")
    report.append(f"peak_rss_mb = {peak_rss_mb:.6g} MB")
    report.append(f"fail_frac = {fail_frac:.6g} ratio ({ctx.failed}/{ctx.attempted})")
    host = statistics.median(ctx.host_loop)
    report.append(f"host probe: {host:.4f} s median of {len(ctx.host_loop)} "
                  f"(range {min(ctx.host_loop):.4f}-{max(ctx.host_loop):.4f})")

    if traced:
        metrics = dict(layers)
        metrics.update(workloads.kernel_layer(tracer))
        import eventlog

        metrics.update(eventlog.fold(eventlog_dir, "timed", len(good)))
        metrics["jvm.jit_s"] = statistics.median(r["jit_s"] for r in good)
        metrics["jvm.gc_s"] = statistics.median(r["gc_s"] for r in good)
        metrics["jvm.setup_jit_s"], metrics["jvm.setup_gc_s"] = ctx.setup_jvm
        metrics["process.peak_rss_mb"] = peak_rss_mb
        metrics["host.loop_s"] = host
        baseline = untraced_job_s(cache, args.workload, args.seed)
        metrics["trace.job_s"] = job_s
        metrics["trace.untraced_job_s"] = baseline
        metrics["trace.overhead_s"] = job_s - baseline if baseline else 0.0
        if not baseline:
            report.append("no untraced run of this workload in this checkout: "
                          "trace.overhead_s reads 0")
        for name in layer_units:
            metrics.setdefault(name, 0.0)
        (tmp.parent / "spans.json").write_text(json.dumps(tracer.spans))
        out = {k: {"value": metrics[k], "unit": u} for k, u in layer_units.items()}
        for k, u in layer_units.items():
            report.append(f"{k} = {metrics[k]:.6g} {u}")
    else:
        _save_record(cache, args.workload, args.seed, job_s)
        out = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    shutil.rmtree(tmp, ignore_errors=True)
    report.append(f"timeline: first rep at {ctx.first_rep_at - _T0:.2f} s, stop at {t_stop - _T0:.2f} s, "
                  f"stopped at {t_stopped - _T0:.2f} s, report at {time.perf_counter() - _T0:.2f} s")
    print("\n".join(report))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
