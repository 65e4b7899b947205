#!/usr/bin/env python
"""spark-submit driver for the extraction engine — the CLI analog of the
reference's console_scripts entry point
(/root/reference/python/setup_onnxruntime.py:63-65; arg mirror
utils.py:172-215).

Cluster usage:
    scripts/package.sh                                   # builds engine.zip
    spark-submit --py-files engine.zip scripts/run_extraction.py \
        --input  s3://bucket/transcripts/               \
        --output s3://bucket/extracted/                 \
        --buckets 512 --text-score 0.5 --salt always

Sandbox usage (synthetic corpus):
    python scripts/run_extraction.py --synthetic-convs 2000 \
        --output /tmp/extract_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python scripts/run_extraction.py` puts scripts/ (not the repo
# root) on sys.path; under spark-submit --py-files the zip covers it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, through PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="transcripts table dir (conv_id, turn_idx, role, text, tool, ts)")
    p.add_argument("--input-format", choices=["parquet", "orc", "json", "csv"],
                   default="parquet", help="table format (schema enforced either way)")
    p.add_argument("--synthetic-convs", type=int, help="generate a synthetic corpus instead of --input")
    p.add_argument("--output", required=True, help="checkpointed output table dir")
    p.add_argument("--buckets", type=int, default=32, help="conv_id hash buckets in the sink")
    p.add_argument("--run-id", default=None)
    p.add_argument("--salt", choices=["auto", "always", "never"], default="auto")
    # reference kwargs-override mirror (rapid_ocr_api.py:58-66)
    p.add_argument("--text-score", type=float, default=0.5)
    p.add_argument("--box-thresh", type=float, default=0.5)
    p.add_argument("--unclip-ratio", type=float, default=1.6)
    p.add_argument("--use-cls", action=argparse.BooleanOptionalAction, default=True)
    p.add_argument("--det-limit-side-len", type=int, default=32)
    # the .NET/C++ CLI knobs, ported (OcrLite.cs:40-61 / AngleNet.cs:74-97)
    p.add_argument("--padding", type=int, default=0,
                   help="K13 MakePadding: pad-before-det px (boxes translate back unclipped)")
    p.add_argument("--most-angle", action=argparse.BooleanOptionalAction, default=False,
                   help="A4 mostAngle: batch-majority orientation override")
    p.add_argument("--shuffle-partitions", type=int, default=0, help="0 = 2x parallelism")
    return p.parse_args()


def main() -> None:
    args = parse_args()
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("rapidocr-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    )
    spark = builder.getOrCreate()
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    else:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(2 * spark.sparkContext.defaultParallelism),
        )

    from rapidocr_spark.config import DEFAULT_CONFIG
    from rapidocr_spark.io.checkpoint import run_extraction
    from rapidocr_spark.sources.transcripts import transcripts_df

    cfg = DEFAULT_CONFIG.replace(
        text_score=args.text_score,
        det_box_thresh=args.box_thresh,
        det_unclip_ratio=args.unclip_ratio,
        use_cls=args.use_cls,
        det_limit_side_len=args.det_limit_side_len,
        det_padding=args.padding,
        cls_most_angle=args.most_angle,
    )
    if args.synthetic_convs:
        transcripts = transcripts_df(spark, args.synthetic_convs)
    elif args.input:
        from rapidocr_spark.sources.reader import read_transcripts

        transcripts = read_transcripts(spark, args.input, fmt=args.input_format)
    else:
        raise SystemExit("one of --input / --synthetic-convs is required")

    metrics = run_extraction(
        spark, transcripts, args.output, cfg, n_buckets=args.buckets, run_id=args.run_id
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
