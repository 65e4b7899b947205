#!/usr/bin/env python
"""Extraction-family evidence one tier up (VERDICT r06 item 5): the same
flagship det→cls→rec chain bench.py times at sf0.1 (~1200 convs), run at
the sf1.0-equivalent corpus — N_CONVS=12000 synthetic conversations
(~180k turns, generated distributed by sources/transcripts.py exactly as
the smaller tiers are) — with BOTH a throughput row and a correctness
sweep at this scale:

- throughput: warmed best-of-2 full-corpus extraction (bench.py's
  methodology — persisted input, per-partition worker warm-up, one
  aggregate action forcing full compute);
- correctness: a deterministic 1-in-37 conversation stratum (~320 convs,
  ~4.9k turns, every payload kind present) re-extracted EAGERLY through
  the shared kernel library (kernels/oracle.extract_turn) and compared
  per-turn exactly — the same distribution-is-invisible contract the
  fixture gate pins at N_FIXTURE_CONVS, demonstrated at the tier where
  the full eager pass would no longer be the bottleneck-free choice.

Writes one JSON line to stdout and BENCH_SF1.json.  Run ALONE (the
documented 2-3x host-steal variance applies; see scripts/scaling.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, through PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

N_CONVS = int(os.environ.get("SF1_CONVS", "12000"))
SAMPLE_STRIDE = 37  # deterministic correctness stratum


def main() -> None:
    from pyspark.sql import functions as F

    from bench import build_spark
    from rapidocr_spark.kernels.oracle import extract_turn
    from rapidocr_spark.operators.extract import extract_transcripts
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import conv_pandas, transcripts_df

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus, app="rapidocr-spark-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    df = transcripts_df(spark, N_CONVS).persist()
    n_turns = df.count()

    def run_once(frame):
        out = extract_transcripts(frame, EXTRACT_CFG)
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_boxes").alias("boxes"),
            F.sum("n_chars").alias("chars"),
            F.count("error").alias("errors"),
        ).collect()[0]

    # warm Python workers / JIT on every partition
    run_once(df.where(F.col("turn_idx") == 0))
    best, agg = float("inf"), None
    for _ in range(2):
        t0 = time.time()
        row = run_once(df)
        dt = time.time() - t0
        if dt < best:
            best, agg = dt, row

    # correctness stratum: eager kernel vs the distributed rows
    sample_ids = list(range(0, N_CONVS, SAMPLE_STRIDE))
    sample_convs = [f"conv{c:06d}" for c in sample_ids]
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["extracted_text"],
            r["n_boxes"],
            r["n_chars"],
            r["error"] is not None,
        )
        for r in extract_transcripts(
            df.where(F.col("conv_id").isin(sample_convs)), EXTRACT_CFG
        )
        .select("conv_id", "turn_idx", "extracted_text", "n_boxes", "n_chars", "error")
        .collect()
    }
    mismatches, sample_turns = [], 0
    for c in sample_ids:
        for rec in conv_pandas(c).itertuples():
            sample_turns += 1
            want = extract_turn(rec.text, EXTRACT_CFG)
            key = (rec.conv_id, int(rec.turn_idx))
            exp = (
                want["extracted_text"],
                want["n_boxes"],
                want["n_chars"],
                want["error"] is not None,
            )
            if got.get(key) != exp:
                mismatches.append((key, got.get(key), exp))
    if len(got) != sample_turns:
        mismatches.append(("cardinality", len(got), sample_turns))

    out = {
        "metric": "extraction_sf1_turns_per_sec",
        "value": round(n_turns / best, 2),
        "unit": "turns/sec",
        "n_convs": N_CONVS,
        "n_turns": n_turns,
        "best_sec": round(best, 3),
        "cpus": cpus,
        "agg": {
            "boxes": int(agg["boxes"]),
            "chars": int(agg["chars"]),
            "errors": int(agg["errors"]),
        },
        "sample_convs": len(sample_ids),
        "sample_turns": sample_turns,
        "sample_mismatches": len(mismatches),
    }
    print(json.dumps(out))
    if mismatches:
        print("MISMATCHES (first 5):", mismatches[:5], file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SF1.json"), "w") as f:
        f.write(json.dumps(out) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
