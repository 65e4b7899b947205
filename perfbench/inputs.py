"""Benchmark inputs, made from the seed and cached in a directory named by
a hash of the program's sources (``code_key``).

The transcript generator (``sources.transcripts.conv_pandas``) is a pure
function of (SEED, conv_idx, turn_idx), so the benchmark's seed picks the
conversation-index range: each seed gives another corpus with the same
payload mix.  The expected per-turn outputs come from the eager oracle
(``kernels.oracle.extract_turn``), computed once per seed by a process pool
of at most ``nproc`` workers.  None of this is timed.

The corpus-prep inputs are the fixed sf0.1 tables, which no seed varies;
their DuckDB oracle rows are cached once.
"""

from __future__ import annotations

import gc
import hashlib
import importlib.util
import json
import multiprocessing as mp
from multiprocessing import resource_tracker
import os
import shutil
from pathlib import Path

# turns per seed, sized so that one extraction repetition takes a few
# seconds on 4 cores (see NOTES.md); fixed, so every seed does the same
# amount of work
N_TURNS = 2000
# conversation-index slots per seed: more than N_TURNS needs (~15 turns
# per conversation on average)
CONV_SLOTS = 400
# the warm-up run commits slices 0-8; slice 9 is what a resume extracts
SLICES = 10
MISSING_SLICE = SLICES - 1
ORACLE_COLS = ["conv_id", "turn_idx", "extracted_text", "n_boxes", "n_chars", "error"]
# fixed eager sample for the kernel layer (independent of the seed)
KERNEL_SAMPLE_CONVS = range(1, 41)

# the plan shapes that the open ROADMAP items change: the sign-LSH plane
# fold, the IVF search builder (at nprobe 2, its general case), the
# shingle kernel of functions.dedup and the URL scan (NOTES.md lists the
# queries left out, and why)
CORPUS_QUERIES = (
    "ann_bucket_sizes",
    "ann_ivf_topk_probe2",
    "dedup_ngram_jaccard",
    "doc_url_normalize",
)
PARITY_TEST = Path("tests") / "test_oracle_parity.py"
SF_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def code_key(root: Path) -> str:
    """Hash of the sources the cached inputs and oracles come from: the
    whole package (generator, eager oracle, ``oracle_sql``) and the parity
    canonicalisation.  It names the cache directory, so a code change
    rebuilds the caches instead of checking against stale expectations."""
    h = hashlib.sha256()
    files = sorted((root / "rapidocr_spark").rglob("*.py")) + [root / PARITY_TEST]
    for p in files:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def conv_plan(seed: int) -> list[tuple[int, int]]:
    """(conv_idx, n_turns) from the seed's range until N_TURNS turns; the
    last conversation is cut short."""
    from rapidocr_spark.sources.transcripts import turns_per_conv

    # conv 0 holds the golden anchors; every seed's range starts after it
    conv, left, plan = 1 + (seed % 2000) * CONV_SLOTS, N_TURNS, []
    while left:
        n = min(left, turns_per_conv(conv))
        plan.append((conv, n))
        conv, left = conv + 1, left - n
    return plan


def _oracle_chunk(convs: list[tuple[int, int]]):
    """Pool worker: generate conversations and their eager oracle rows."""
    import pandas as pd

    from rapidocr_spark.kernels.oracle import extract_turn
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import conv_pandas

    frames, rows = [], []
    for c, n in convs:
        pdf = conv_pandas(c, n_turns=n)
        frames.append(pdf)
        for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            r = extract_turn(text, EXTRACT_CFG)
            rows.append(
                (conv_id, int(turn_idx), r["extracted_text"], r["n_boxes"], r["n_chars"], r["error"])
            )
    return pd.concat(frames, ignore_index=True), pd.DataFrame(rows, columns=ORACLE_COLS)


class Corpus:
    """One seed's transcripts (parquet, ``nproc * 2`` files) and oracle."""

    def __init__(self, cache: Path, seed: int, nproc: int):
        self.dir = cache / f"seed-{seed}-t{N_TURNS}"
        self.input = self.dir / "transcripts"
        self.oracle_path = self.dir / "oracle.parquet"
        if not (self.dir / "DONE").exists():
            self._build(seed, nproc)
        import pandas as pd

        self.oracle = pd.read_parquet(self.oracle_path).set_index(["conv_id", "turn_idx"]).sort_index()
        conv_idx = self.oracle.index.get_level_values(0).str[4:].astype(int)
        turn_idx = self.oracle.index.get_level_values(1)
        self.oracle["slice"] = (conv_idx + turn_idx) % SLICES

    def _build(self, seed: int, nproc: int) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = self.dir.with_name(self.dir.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "transcripts").mkdir(parents=True)
        convs = conv_plan(seed)
        chunks = [convs[i :: nproc * 4] for i in range(nproc * 4)]
        with mp.get_context("spawn").Pool(nproc) as pool:
            parts = pool.map(_oracle_chunk, chunks)
        # the spawn start method runs a semaphore tracker process that would
        # outlive the pool: release the pool's semaphores, then stop it
        del pool
        gc.collect()
        tracker = getattr(resource_tracker, "_resource_tracker", None)
        if tracker is not None and hasattr(tracker, "_stop"):
            tracker._stop()
        transcripts = pd.concat([p[0] for p in parts]).sort_values(["conv_id", "turn_idx"])
        oracle = pd.concat([p[1] for p in parts]).sort_values(["conv_id", "turn_idx"])
        n_files = nproc * 2
        step = -(-len(transcripts) // n_files)
        for i in range(n_files):
            chunk = transcripts.iloc[i * step : (i + 1) * step]
            pq.write_table(
                pa.Table.from_pandas(chunk, preserve_index=False),
                tmp / "transcripts" / f"part-{i:03d}.parquet",
                coerce_timestamps="us",  # Spark reads no nanosecond timestamps
            )
        oracle.to_parquet(tmp / "oracle.parquet", index=False)
        (tmp / "DONE").write_text(json.dumps({"seed": seed, "convs": convs}))
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)


def kernel_sample() -> list[str]:
    from rapidocr_spark.sources.transcripts import conv_pandas

    return [t for c in KERNEL_SAMPLE_CONVS for t in conv_pandas(c)["text"]]


def load_parity(root: Path):
    """The canonicalisation used by the repository's oracle-parity test."""
    spec = importlib.util.spec_from_file_location("perfbench_parity", root / PARITY_TEST)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._rows


def canonical_json(rows) -> str:
    return json.dumps(rows, sort_keys=True, default=repr)


def corpus_oracle(cache: Path, sf_dir: Path, rows_fn) -> dict[str, str]:
    """Canonical DuckDB oracle rows of every corpus-prep query, cached."""
    path = cache / "corpus_prep_oracle.json"
    if path.exists():
        cached = json.loads(path.read_text())
        if cached["sf_dir"] == str(sf_dir) and sorted(cached["rows"]) == sorted(CORPUS_QUERIES):
            return cached["rows"]
    import duckdb

    from rapidocr_spark.plans.shell import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{cache / 'duckdb_tmp'}'")
        for t in SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        rows = {q: canonical_json(rows_fn(con.execute(sql[q]).fetch_df())) for q in CORPUS_QUERIES}
    finally:
        con.close()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps({"sf_dir": str(sf_dir), "rows": rows}))
    os.replace(tmp, path)
    return rows
