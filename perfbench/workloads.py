"""The workloads, each driven through the engine's public API.

Every workload has the same shape: a fixed warm-up that counts towards
``setup_s``, then timed repetitions while ``--seconds`` last (at least
``MIN_REPS``), each checked against the oracle after its timer stops.  The
traced run adds probes after the timed window, one span per public call, so
that the per-layer numbers never disturb the end-to-end ones.
"""

from __future__ import annotations

import shutil
import statistics
import threading
import time
from pathlib import Path

import inputs
from meter import host_loop_s, tree_cpu_s

# a repetition still running after this many seconds is cancelled and
# counted as failed
OP_TIMEOUT_S = 60.0
# whole-corpus extraction runs in the warm-up.  On 4 cores the first run
# of a session takes ~14 s and the next ones ~4.5 s, and JIT compilation
# keeps falling slowly after that (from ~5.5 s to ~1.5 s a run over ten
# more runs).  A fixed warm-up puts every run's timed repetitions at the
# same point of that curve.
WARMUP_RUNS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Context:
    """What one run shares: session, clocks, tracer, counters."""

    def __init__(self, spark, jvm, tracer, work: Path, seconds: int, pid: int):
        self.spark, self.jvm, self.tracer = spark, jvm, tracer
        self.work, self.seconds, self.pid = work, seconds, pid
        self.attempted = self.failed = 0
        self.own_s = 0.0  # benchmark-own work (checks) inside the setup window
        self.first_rep_at: float | None = None
        self.setup_jvm = (0.0, 0.0)
        self.reps: list[dict] = []
        self.notes: list[str] = []
        self.host_loop: list[float] = []  # host probe readings, see meter.host_loop_s

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def record(self, ok: bool, detail: str = "", what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}: {detail}")
        return ok

    def measure(self, prepare, operate, verify, min_reps: int) -> None:
        """Timed repetitions that fit in ``seconds`` from the first one, and
        at least ``min_reps`` of them.  ``operate`` is the only timed call;
        it returns (items, result) and runs under the job group 'timed'.
        ``verify(state, result)`` returns (ok, extra).  After each check the
        host probe runs once, outside the timer."""
        sc = self.spark.sparkContext
        window = time.perf_counter()
        walls: list[float] = []
        # a repetition starts only if, at the median pace so far, it ends
        # inside the window
        while len(walls) < min_reps or time.perf_counter() - window + median(walls) <= self.seconds:
            state = prepare(len(self.reps))
            self.group("timed")
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, args=("timed",))
            jit0, gc0 = self.jvm.read()
            cpu0 = tree_cpu_s(self.pid)
            t = time.perf_counter()
            if self.first_rep_at is None:
                self.first_rep_at = t
                self.setup_jvm = (jit0, gc0)
            timer.start()
            error = None
            try:
                with self.tracer.span("rep"):
                    items, result = operate(state)
            except Exception as exc:  # noqa: BLE001 — a failed operation is a measured outcome
                error, items, result = f"{type(exc).__name__}: {exc}"[:300], 0, None
            finally:
                timer.cancel()
            wall = time.perf_counter() - t
            cpu = tree_cpu_s(self.pid) - cpu0
            jit1, gc1 = self.jvm.read()
            self.group("check")
            ok, extra = (False, {}) if error else verify(state, result)
            self.record(ok, error or extra.get("why", ""), f"repetition {len(self.reps)}")
            rep = {"wall_s": wall, "cpu_s": cpu, "items": items, "ok": ok, "done": error is None,
                   "jit_s": jit1 - jit0, "gc_s": gc1 - gc0}
            rep.update({k: v for k, v in extra.items() if k != "why"})
            self.reps.append(rep)
            walls.append(wall)
            self.host_loop.append(host_loop_s())

    def done_reps(self) -> list[dict]:
        """Repetitions that ran to the end, right output or not: their
        timings stand, and ``correct`` reports the outputs."""
        return [r for r in self.reps if r["done"]]


# --------------------------------------------------------------------------
# extraction


def _files(d: Path) -> dict[str, int]:
    return {str(p.relative_to(d)): p.stat().st_size for p in d.rglob("*.parquet")}


class Extract:
    MIN_REPS = 3

    def __init__(self, ctx: Context, corpus: inputs.Corpus):
        from rapidocr_spark.plans.shell import EXTRACT_CFG

        self.ctx, self.corpus, self.cfg = ctx, corpus, EXTRACT_CFG
        self.scratch = ctx.work / "runs"
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.template = self.scratch / "template"
        ora = corpus.oracle
        self.missing = ora[ora["slice"] == inputs.MISSING_SLICE]

    def _source(self):
        from rapidocr_spark.sources.reader import read_transcripts

        return read_transcripts(self.ctx.spark, str(self.corpus.input))

    def setup(self) -> None:
        """Fixed warm-up: whole-corpus runs into scratch tables, which bring
        the JVM onto the flat part of its JIT curve before the timer
        starts.  The first run's table is checked against the oracle."""
        from rapidocr_spark.io.checkpoint import run_extraction

        ctx = self.ctx
        ctx.group("setup")
        for i in range(WARMUP_RUNS):
            t = time.perf_counter()
            run_extraction(ctx.spark, self._source(), str(self.scratch / f"warm-up-{i}"), self.cfg)
            ctx.notes.append(f"warm-up run {i}: {time.perf_counter() - t:.3f} s")
        t = time.perf_counter()
        ok, why = self._check_table(self.scratch / "warm-up-0", self.corpus.oracle)
        ctx.record(ok, why, "warm-up run 0")
        ctx.own_s += time.perf_counter() - t

    def prepare(self, k: int) -> Path:
        out = self.scratch / f"rep-{k}"
        shutil.rmtree(out, ignore_errors=True)
        return out

    def operate(self, out: Path):
        from rapidocr_spark.io.checkpoint import run_extraction

        metrics = run_extraction(self.ctx.spark, self._source(), str(out), self.cfg)
        return len(self.corpus.oracle), metrics

    def _check_table(self, out: Path, want, added=None, run_id: str | None = None):
        """Committed rows against the oracle rows ``want``: every key exactly
        once, with the oracle's values; the rows of run ``run_id`` are
        exactly the keys of ``added``."""
        cols = ["conv_id", "turn_idx", "extracted_text", "n_boxes", "n_chars", "error"]
        got = self.ctx.spark.read.parquet(str(out)).select("run_id", *cols).toPandas()
        got["turn_idx"] = got["turn_idx"].astype("int64")
        got = got.set_index(["conv_id", "turn_idx"]).sort_index()
        if got.index.has_duplicates:
            return False, f"{int(got.index.duplicated().sum())} duplicate keys"
        if run_id is not None:
            mine = got.index[got["run_id"] == run_id]
            if not mine.equals(added.index):
                return False, f"run added {len(mine)} keys, expected {len(added)}"
        if not got.index.equals(want.index):
            return False, f"{len(got)} committed keys, expected {len(want)}"
        for c in cols[2:]:
            a, b = got[c].tolist(), want[c].tolist()
            if c in ("n_boxes", "n_chars"):
                a, b = [int(x) for x in a], [int(x) for x in b]
            if a != b:
                return False, f"{sum(x != y for x, y in zip(a, b))} rows differ in {c}"
        return True, ""

    def _check_run(self, out: Path, metrics: dict, added) -> tuple[bool, str]:
        """The table and the run's ``Observation`` counts against the oracle."""
        ok, why = self._check_table(out, self.corpus.oracle, added, metrics["run_id"])
        want = {
            "turns": len(added),
            "boxes": int(added["n_boxes"].sum()),
            "chars": int(added["n_chars"].sum()),
            "errors": int(added["error"].notna().sum()),
            "empty": int((added["extracted_text"].isna() & added["error"].isna()).sum()),
        }
        got = {k: metrics[k] for k in want}
        if ok and got != want:
            ok, why = False, f"observation {got} != oracle {want}"
        return ok, why

    def verify(self, out: Path, metrics: dict):
        ok, why = self._check_run(out, metrics, self.corpus.oracle)
        files = _files(out)
        return ok, {"why": why, "files_written": len(files),
                    "out_bytes_per_item": sum(files.values()) / len(self.corpus.oracle)}

    def probes(self) -> dict[str, float]:
        """Traced run only: run_extraction taken apart into its layers, each
        a separate Spark action under one span.  Intermediate frames are
        persisted so no layer is timed twice; the write probe substitutes
        the persisted extraction result for the module's own call.  Then
        the resume path: a partial run commits slices 0-8 into a template;
        the committed-key scan and anti-join over a copy of it, and a real
        resume that adds the missing slice."""
        from pyspark.sql import functions as F

        from rapidocr_spark.io import checkpoint
        from rapidocr_spark.operators.extract import extract_transcripts

        ctx, tr = self.ctx, self.ctx.tracer
        ctx.group("probe")
        out = self.prepare(len(ctx.reps))
        with tr.span("probe"):
            with tr.span("sources.read_transcripts"):
                src = self._source().persist()
                src.count()
            with tr.span("operators.extract_transcripts"):
                res = extract_transcripts(src, self.cfg).persist()
                res.count()
            with tr.span("io.checkpoint.write"):
                real = checkpoint.extract_transcripts
                checkpoint.extract_transcripts = lambda df, cfg: res
                try:
                    checkpoint.run_extraction(ctx.spark, src, str(out), self.cfg)
                finally:
                    checkpoint.extract_transcripts = real
            plain = res.where(F.col("kind") == "plain").count()
            heavy = res.count() - plain
            res.unpersist()

            slice_col = F.pmod(
                F.substring("conv_id", 5, 12).cast("int") + F.col("turn_idx"), F.lit(inputs.SLICES)
            )
            part = src.where(slice_col != inputs.MISSING_SLICE)
            checkpoint.run_extraction(ctx.spark, part, str(self.template), self.cfg)
            resumed = self.scratch / "resumed"
            shutil.copytree(self.template, resumed)
            with tr.span("io.checkpoint.committed_keys"):
                prior = checkpoint.committed_keys(ctx.spark, str(resumed))
                src.join(prior, list(checkpoint.KEY_COLS), "left_anti").count()
            src.unpersist()
            with tr.span("io.checkpoint.resume"):
                metrics = checkpoint.run_extraction(ctx.spark, self._source(), str(resumed), self.cfg)
        ctx.group("check")
        ctx.record(*self._check_run(resumed, metrics, self.missing), what="resume probe")
        m = {
            "sources.read_transcripts_s": tr.total("sources.read_transcripts"),
            "operators.extract_transcripts_s": tr.total("operators.extract_transcripts"),
            "operators.heavy_turns": heavy,
            "operators.plain_turns": plain,
            "io.checkpoint.write_s": tr.total("io.checkpoint.write"),
            "io.checkpoint.files_written": median([r["files_written"] for r in ctx.done_reps()]),
            "io.checkpoint.out_bytes_per_turn": median([r["out_bytes_per_item"] for r in ctx.done_reps()]),
            "io.checkpoint.committed_keys_s": tr.total("io.checkpoint.committed_keys"),
            "io.checkpoint.files_scanned": len(_files(self.template)),
            "io.checkpoint.resume_s": tr.total("io.checkpoint.resume"),
            "io.checkpoint.resume_turns": len(self.missing),
        }
        layers = sum(m[k] for k in ("sources.read_transcripts_s", "operators.extract_transcripts_s",
                                    "io.checkpoint.write_s"))
        m["trace.gap_s"] = median([r["wall_s"] for r in ctx.done_reps()]) - layers
        return m

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# corpus prep


class CorpusPrep:
    MIN_REPS = 2

    def __init__(self, ctx: Context, sf_dir: Path, oracle_rows: dict[str, str], rows_fn):
        from rapidocr_spark.plans.shell import queries

        self.ctx, self.sf_dir = ctx, sf_dir
        self.oracle_rows, self.rows_fn = oracle_rows, rows_fn
        registry = queries()
        self.queries = {q: registry[q] for q in inputs.CORPUS_QUERIES}

    def setup(self) -> None:
        """Fixed warm-up: one cold round, collected and checked against the
        DuckDB oracle (the once-per-run correctness check), then one round
        into the noop sink, as timed.  The second round keeps the steepest
        part of the JIT curve out of the timer: without it the first timed
        round ran 16-35% slower than the second, with it a median 5%."""
        ctx = self.ctx
        ctx.group("setup")
        for name, q in self.queries.items():
            try:
                pdf = q(ctx.spark, str(self.sf_dir)).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted, reported
                ctx.record(False, f"{type(exc).__name__}: {exc}"[:300], name)
                continue
            t = time.perf_counter()
            got = inputs.canonical_json(self.rows_fn(pdf))
            ctx.record(got == self.oracle_rows[name], "rows differ from the DuckDB oracle", name)
            ctx.own_s += time.perf_counter() - t
        self.operate(None)

    def prepare(self, k: int):
        return None

    def operate(self, _state):
        spark, tr = self.ctx.spark, self.ctx.tracer
        walls = []
        for name, q in self.queries.items():
            t = time.perf_counter()
            with tr.span(f"plans.{name}"):
                spark.catalog.clearCache()
                q(spark, str(self.sf_dir)).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        return len(self.queries), walls

    def verify(self, _state, walls):
        # noop sink: the rows were checked in the warm-up round; a timed
        # round fails only by raising or timing out
        return True, {"query_s": walls}

    def probes(self) -> dict[str, float]:
        from rapidocr_spark.io.spread import spread_parquet

        ctx, tr = self.ctx, self.ctx.tracer
        ctx.group("probe")
        for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
            with tr.span("io.spread.spread_parquet"):
                spread_parquet(ctx.spark, f"{self.sf_dir}/{table}.parquet", key).write.format(
                    "noop"
                ).mode("overwrite").save()
        m = {"io.spread.spread_parquet_s": tr.total("io.spread.spread_parquet")}
        for i, name in enumerate(self.queries):
            m[f"plans.{name}_s"] = median([r["query_s"][i] for r in ctx.done_reps()])
        m["trace.gap_s"] = median([r["wall_s"] for r in ctx.done_reps()]) - sum(
            m[f"plans.{n}_s"] for n in self.queries
        )
        return m

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# kernels: eager, fixed sample, names wrapped from outside kernels/oracle.py


def kernel_layer(tracer) -> dict[str, float]:
    from rapidocr_spark.kernels import cls, oracle, pdf_extract, rec
    from rapidocr_spark.kernels.codec import payload_kind
    from rapidocr_spark.plans.shell import EXTRACT_CFG

    sample = inputs.kernel_sample()
    tracer.wrap(oracle, "decode_bitmap", "kernels.decode")
    tracer.wrap(oracle, "decode_image_payload", "kernels.decode")
    tracer.wrap(oracle, "detect", "kernels.det")
    tracer.wrap(oracle, "crop_quad", "kernels.crop")
    tracer.wrap(cls, "classify_and_rotate", "kernels.cls")
    tracer.wrap(rec, "recognize", "kernels.rec",
                on_result=lambda args, _r: tracer.add("kernels.boxes", len(args[0])))
    tracer.wrap(oracle, "extract_main_content", "kernels.html")
    tracer.wrap(pdf_extract, "extract_pdf_layout", "kernels.pdf")
    kept = chars = 0
    try:
        for text in sample:
            with tracer.span(f"kernels.turn.{payload_kind(text)}"):
                r = oracle.extract_turn(text, EXTRACT_CFG)
            kept += r["n_boxes"]
            chars += r["n_chars"]
    finally:
        tracer.close()
    boxes = tracer.counts.get("kernels.boxes", 0)
    m = {f"kernels.{k}_s": tracer.total(f"kernels.{k}")
         for k in ("decode", "det", "crop", "cls", "rec", "html", "pdf")}
    for kind in ("bitmap", "image", "html"):
        turns = tracer.durations(f"kernels.turn.{kind}")
        m[f"kernels.{kind}_us_per_turn"] = 1e6 * statistics.fmean(turns) if turns else 0.0
    m["kernels.boxes"] = boxes
    m["kernels.chars"] = chars
    m["kernels.span_keep_ratio"] = kept / boxes if boxes else 0.0
    return m

