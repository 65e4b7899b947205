"""Checkpointed, idempotently-resumable extraction runs (SURVEY.md §4/M4).

At 10^12-turn scale an extraction job WILL be pre-empted; the recovery
contract is:

- results land in a parquet table partitioned by ``bucket = pmod(
  hash(conv_id), n_buckets)`` — the sandbox stand-in for an Iceberg table
  bucketed on conv_id (same pruning/clustering semantics, no catalog dep);
- one run writes at most ONE file per bucket: the result rows are
  hash-repartitioned on ``bucket`` into ``min(n_buckets,
  defaultParallelism)`` write tasks before ``partitionBy("bucket")``, so
  every bucket has exactly one writer.  Without it every extraction task
  wrote into every bucket its rows touched (up to tasks × buckets files
  per run, each a file open/close on the extraction critical path, and
  that many more files for every resume's ``committed_keys`` scan).  The
  shuffle moves result rows only (spans and text, ~0.5 KB a turn); the
  payloads are consumed before it.  The partition count is explicit, so
  AQE does not coalesce the shuffle into a single slow write task;
- every row carries lineage: ``run_id``, ``stage_versions``,
  ``processed_at``;
- a restart anti-joins the input against committed ``(conv_id, turn_idx)``
  keys, so already-extracted turns are never recomputed and reruns are
  no-ops (the MERGE-free formulation of idempotent resume);
- stage metrics (turns, boxes, chars, errors — the reference's elapse
  tuple analog, rapid_ocr_api.py:106) are collected with ``Observation``
  during the same action (no second pass) and persisted as one JSON per
  run under ``_metrics/``.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.extract import extract_transcripts

STAGE_VERSIONS = "det=1;cls=1;rec=1;html=1"
KEY_COLS = ("conv_id", "turn_idx")


# error classes that genuinely mean "no prior run" — anything else
# (object-store failure, permissions, corrupt footer) must re-raise, or a
# transient read error would silently disable the anti-join resume and the
# append write would duplicate already-committed turns
_FIRST_RUN_CONDITIONS = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def committed_keys(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """Previously committed (conv_id, turn_idx) keys, or None on first run.
    Column-pruned scan — only the two key columns are read."""
    try:
        return spark.read.parquet(output_dir).select(*KEY_COLS)
    except AnalysisException as exc:
        cond = ""
        for attr in ("getCondition", "getErrorClass"):  # 4.x name, then 3.x
            fn = getattr(exc, attr, None)
            if fn is not None:
                try:
                    cond = fn() or ""
                except Exception:  # noqa: BLE001 — fall through to next accessor
                    continue
                if cond:
                    break
        if cond in _FIRST_RUN_CONDITIONS:
            return None
        raise


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    n_buckets: int = 32,
    run_id: str | None = None,
) -> dict[str, Any]:
    """Extract all not-yet-committed turns into ``output_dir``; returns the
    run's metrics dict.  Safe to re-run after any partial failure."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    todo = transcripts
    prior = committed_keys(spark, output_dir)
    if prior is not None:
        # broadcast-unsafe in general (committed set can be huge) → regular
        # left_anti; Catalyst/AQE picks the join strategy per actual sizes.
        todo = transcripts.join(prior, on=list(KEY_COLS), how="left_anti")

    results = extract_transcripts(todo, cfg)

    out = (
        results.withColumn("bucket", F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets)))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage_versions", F.lit(STAGE_VERSIONS))
        .withColumn("processed_at", F.current_timestamp())
        # one writer per bucket → one file per bucket per run (docstring)
        .repartition(min(n_buckets, spark.sparkContext.defaultParallelism), "bucket")
    )
    # observed ABOVE the shuffle, in the write stage: when a resume leaves
    # no turns, AQE swaps the empty shuffle's subtree for an empty relation,
    # and a metrics node below the shuffle would vanish with it
    obs = Observation(f"extract-{run_id}")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("turns"),
        F.sum("n_boxes").alias("boxes"),
        F.sum("n_chars").alias("chars"),
        F.count(F.col("error")).alias("errors"),
        F.count(F.when(F.col("extracted_text").isNull() & F.col("error").isNull(), 1)).alias("empty"),
    )
    out.write.mode("append").partitionBy("bucket").parquet(output_dir)

    elapsed = time.time() - t0
    got = dict(obs.get)
    metrics = {
        "run_id": run_id,
        "turns": int(got.get("turns") or 0),
        "boxes": int(got.get("boxes") or 0),
        "chars": int(got.get("chars") or 0),
        "errors": int(got.get("errors") or 0),
        "empty": int(got.get("empty") or 0),
        "elapsed_sec": round(elapsed, 3),
        "turns_per_sec": round((int(got.get("turns") or 0)) / elapsed, 2) if elapsed > 0 else 0.0,
        "stage_versions": STAGE_VERSIONS,
        "resumed": prior is not None,
    }
    # write the metrics through the Hadoop FileSystem API so they land
    # alongside the table on ANY URI scheme (s3a://, hdfs://, file:/…) —
    # a local open() would write into a bogus './s3:' directory
    jvm = spark._jvm  # type: ignore[attr-defined]
    jpath = jvm.org.apache.hadoop.fs.Path(f"{output_dir}/_metrics/{run_id}.json")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    stream = fs.create(jpath, True)
    try:
        stream.write(json.dumps(metrics, indent=2).encode("utf-8"))
    finally:
        stream.close()
    return metrics
