"""Streaming twin of the extraction operator: file source → same fused
stage → exactly-once parquet sink; output equals the batch run."""

from __future__ import annotations

from pyspark.sql import functions as F

from rapidocr_spark.operators.extract import extract_transcripts
from rapidocr_spark.plans.shell import EXTRACT_CFG
from rapidocr_spark.sources.transcripts import transcripts_df
from rapidocr_spark.streaming.pipeline import read_transcript_stream, start_to_parquet


def test_stream_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = transcripts_df(spark, 8)
    src.write.parquet(in_dir)

    q = start_to_parquet(
        extract_transcripts(read_transcript_stream(spark, in_dir), EXTRACT_CFG),
        out_dir,
        ckpt,
    )
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_boxes"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_boxes"])
        for r in extract_transcripts(
            spark.read.parquet(in_dir), EXTRACT_CFG
        ).collect()
    }
    assert got == want and len(got) > 0

    # restart with no new files → no duplicates (exactly-once resume)
    q2 = start_to_parquet(
        extract_transcripts(read_transcript_stream(spark, in_dir), EXTRACT_CFG),
        out_dir,
        ckpt,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == len(want)
