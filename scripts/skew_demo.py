#!/usr/bin/env python
"""Skew demonstration (SURVEY.md §7 M5): one conversation with ~100× the
median turn count, input PARTITIONED BY CONVERSATION (each conversation's
turns land in one input partition — the placement-skew worst case an
Iceberg table partitioned by conv_id would produce).  The same extraction
job runs with salt="never" (trust input placement → one straggler task
owns the giant conversation) and salt="always" (defensive exchange spreads
it across salt_buckets partitions).

Writes BENCH_SKEW.json at the repo root.
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

from pyspark.sql import functions as F  # noqa: E402

from bench import build_spark  # noqa: E402
from rapidocr_spark.operators.extract import extract_transcripts  # noqa: E402
from rapidocr_spark.plans.shell import EXTRACT_CFG  # noqa: E402
from rapidocr_spark.sources.transcripts import transcripts_df  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
N_CONVS = 32
SKEW_CONV = 1
SKEW_TURNS = 6000  # ~400x the ~14-turn median (straggler dominates)


def main() -> None:
    spark = build_spark(CPUS, app="skew-demo")
    spark.sparkContext.setLogLevel("ERROR")
    df = (
        transcripts_df(spark, N_CONVS, skew_conv=SKEW_CONV, skew_turns=SKEW_TURNS)
        # cluster by conversation: the skewed conversation = one fat partition
        .repartition(N_CONVS, F.col("conv_id"))
        .persist()
    )
    n = df.count()

    def once(salt: str) -> float:
        # fresh plan each time — no result/stage reuse between timings
        out = extract_transcripts(df, EXTRACT_CFG, salt=salt)
        t0 = time.time()
        out.agg(F.count(F.lit(1)), F.sum("n_chars")).collect()
        return time.time() - t0

    def run(salt: str) -> float:
        once(salt)  # warm workers
        return min(once(salt) for _ in range(3))

    t_never = run("never")
    t_always = run("always")
    result = {
        "n_turns": n,
        "skew_conv_turns": SKEW_TURNS,
        "cpus": CPUS,
        "salt_never_sec": round(t_never, 3),
        "salt_always_sec": round(t_always, 3),
        "speedup_from_salting": round(t_never / t_always, 2),
        "method": f"{N_CONVS} convs clustered one-per-partition, conv {SKEW_CONV} has "
                  f"{SKEW_TURNS} turns of the normal payload mix; salted repartition on "
                  f"(conv_id, hash(turn_idx)%{EXTRACT_CFG.salt_buckets}) spreads the fat "
                  f"partition before the fused kernel stage",
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_SKEW.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
