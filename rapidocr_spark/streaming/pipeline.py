"""Structured Streaming wrapper over the SAME extraction stage.

The reference is batch-only (SURVEY.md §2.9: its web servers are
request/response), so streaming is engine-added surface: the fused
``mapInPandas`` extraction stage is stateless per turn, which makes it
directly usable on a streaming DataFrame — ``extract_transcripts`` applies
to the frame ``read_transcript_stream`` returns as it is (the plain route's
expressions, the heavy route's spread and the fused kernel stage are all
stateless, so the plan needs no watermark): identical kernel, identical
output schema, exactly-once via checkpointed file sink.

At scale this is the "continuously land new transcript partitions" shape:
``readStream`` over the table location, extraction, ``writeStream`` with a
per-partition checkpoint — the streaming twin of io/checkpoint.py's
batch resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream of transcript parquet drops."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def start_to_parquet(
    extracted: DataFrame, output_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Exactly-once parquet sink (file-sink commit log + source offsets)."""
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
