"""Kill/rerun idempotency (SURVEY.md §5 item 4): a partial commit followed
by a rerun yields exactly one row per turn, identical to a clean run."""

from __future__ import annotations

from pyspark.sql import functions as F

from rapidocr_spark.config import DEFAULT_CONFIG
from rapidocr_spark.io.checkpoint import run_extraction
from rapidocr_spark.sources.transcripts import transcripts_df, turns_per_conv

CFG = DEFAULT_CONFIG.replace(det_limit_side_len=32)
N = 12


def test_resume_no_dupes_and_identical(spark, tmp_path):
    out = str(tmp_path / "extract_out")
    full = transcripts_df(spark, N)
    partial = full.where(F.col("conv_id") < "conv000005")

    m1 = run_extraction(spark, partial, out, CFG)          # "killed" after 5 convs
    assert not m1["resumed"] and m1["turns"] == sum(turns_per_conv(c) for c in range(5))

    m2 = run_extraction(spark, full, out, CFG)             # restart over full input
    assert m2["resumed"]
    expected_total = sum(turns_per_conv(c) for c in range(N))
    assert m1["turns"] + m2["turns"] == expected_total

    table = spark.read.parquet(out)
    assert table.count() == expected_total
    dupes = table.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
    assert dupes == 0
    assert set(r["run_id"] for r in table.select("run_id").distinct().collect()) == {
        m1["run_id"], m2["run_id"],
    }

    m3 = run_extraction(spark, full, out, CFG)             # rerun is a no-op
    assert m3["turns"] == 0
    assert spark.read.parquet(out).count() == expected_total

    # resumed output matches a clean single-shot run per turn
    clean_dir = str(tmp_path / "clean_out")
    run_extraction(spark, full, clean_dir, CFG)
    a = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_boxes"])
        for r in table.select("conv_id", "turn_idx", "extracted_text", "n_boxes").collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_boxes"])
        for r in spark.read.parquet(clean_dir)
        .select("conv_id", "turn_idx", "extracted_text", "n_boxes")
        .collect()
    }
    assert a == b


def test_metrics_persisted(spark, tmp_path):
    import glob
    import json

    out = str(tmp_path / "m_out")
    m = run_extraction(spark, transcripts_df(spark, 3), out, CFG)
    files = glob.glob(f"{out}/_metrics/*.json")
    assert len(files) == 1
    saved = json.load(open(files[0]))
    assert saved["run_id"] == m["run_id"]
    assert saved["turns"] == sum(turns_per_conv(c) for c in range(3))
    assert saved["turns_per_sec"] > 0


def test_one_file_per_bucket_per_run(spark, tmp_path):
    """The sink gives every bucket ONE writer per run: each ``bucket=*``
    dir holds exactly one parquet file per run_id, however many input
    files, extraction tasks and union branches the run's rows came from."""
    import glob

    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    transcripts_df(spark, N).repartition(4).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) >= 4
    inp = spark.read.parquet(src)
    out = str(tmp_path / "extract_out")
    m1 = run_extraction(spark, inp.where(F.col("conv_id") < "conv000006"), out, CFG)
    m2 = run_extraction(spark, inp.where(F.col("conv_id") >= "conv000006"), out, CFG)
    assert m1["turns"] and m2["turns"]

    bucket_dirs = glob.glob(f"{out}/bucket=*")
    assert bucket_dirs
    seen = set()
    for d in bucket_dirs:
        runs = []
        for f in glob.glob(f"{d}/*.parquet"):
            ids = set(pq.read_table(f, columns=["run_id"]).column("run_id").to_pylist())
            assert len(ids) == 1, (f, ids)
            runs.extend(ids)
        assert len(runs) == len(set(runs)), (d, runs)
        seen.update(runs)
    assert seen == {m1["run_id"], m2["run_id"]}
