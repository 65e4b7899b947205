"""Spark extraction stage vs single-node oracle — per-turn equality under
stable (conv_id, turn_idx) ordering (SURVEY.md §5 item 2).  Distribution
must be invisible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rapidocr_spark.config import DEFAULT_CONFIG
from rapidocr_spark.kernels.oracle import extract_turn
from rapidocr_spark.operators.extract import (
    assemble_conversations,
    extract_transcripts,
)
from rapidocr_spark.sources.transcripts import (
    GOLDEN_CH_EN_NUM_FIRST,
    GOLDEN_HTML_MAIN,
    GOLDEN_REC_TEXT,
    transcripts_df,
    transcripts_pandas,
)

CFG = DEFAULT_CONFIG.replace(det_limit_side_len=32)
N_CONVS = 20


@pytest.fixture(scope="module")
def results(spark):
    df = transcripts_df(spark, N_CONVS)
    out = extract_transcripts(df, CFG).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def oracle_rows():
    pdf = transcripts_pandas(N_CONVS)
    rows = {}
    for rec in pdf.itertuples():
        rows[(rec.conv_id, int(rec.turn_idx))] = extract_turn(rec.text, CFG)
    return rows


def test_row_cardinality(results, oracle_rows):
    assert results.count() == len(oracle_rows)


def test_per_turn_text_equality(results, oracle_rows):
    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_boxes"], r["error"] is not None)
        for r in results.select("conv_id", "turn_idx", "extracted_text", "n_boxes", "error").collect()
    }
    assert got.keys() == oracle_rows.keys()
    mismatches = []
    for key, want in oracle_rows.items():
        exp = (want["extracted_text"], want["n_boxes"], want["error"] is not None)
        if got[key] != exp:
            mismatches.append((key, got[key], exp))
    assert not mismatches, mismatches[:5]


def test_spans_equality_sampled(results, oracle_rows):
    rows = results.where(F.col("conv_id") == "conv000000").collect()
    for r in rows:
        want = oracle_rows[(r["conv_id"], r["turn_idx"])]["spans"]
        if want is None:
            assert r["spans"] is None or r["spans"] == []
            continue
        got = [
            {"box": [list(p) for p in s["box"]], "text": s["text"], "score": s["score"]}
            for s in (r["spans"] or [])
        ]
        assert [g["text"] for g in got] == [w["text"] for w in want]
        assert [g["box"] for g in got] == [w["box"] for w in want]
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9


def test_goldens_through_spark(results):
    g = {r["turn_idx"]: r for r in results.where(F.col("conv_id") == "conv000000").collect()}
    assert g[0]["n_boxes"] == 17
    assert g[0]["extracted_text"].split("\n")[0] == GOLDEN_CH_EN_NUM_FIRST
    assert g[1]["n_boxes"] == 18
    assert g[2]["extracted_text"] == GOLDEN_REC_TEXT
    assert g[2]["skip_det"] == "skip"  # F1 gate evaluated Catalyst-side
    assert g[4]["extracted_text"] is None and g[4]["error"] is None
    assert g[5]["error"] is not None and "LoadImageError" in g[5]["error"]
    assert g[7]["extracted_text"] == GOLDEN_HTML_MAIN


def test_plain_route_stays_in_catalyst(spark):
    """plain: payloads never pass through Python: the whole extraction plan
    contains exactly ONE MapInPandas (the heavy stage) and the plain route
    is pure expressions."""
    from datetime import datetime

    rows = [
        ("c0", 0, "user", "plain:  hello \n\n world ", "", datetime(2026, 1, 1)),
        ("c0", 1, "assistant", "plain:one\nline", "", datetime(2026, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = extract_transcripts(df, CFG)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1  # only the heavy branch
    got = {r["turn_idx"]: r["extracted_text"] for r in out.collect()}
    assert got == {0: "hello\nworld", 1: "one\nline"}


def test_assemble_conversations(results, oracle_rows):
    conv = assemble_conversations(results)
    row = conv.where(F.col("conv_id") == "conv000001").collect()[0]
    want_turns = sorted(
        (k[1], v["extracted_text"])
        for k, v in oracle_rows.items()
        if k[0] == "conv000001" and v["extracted_text"] is not None
    )
    assert row["conversation_text"] == "\n\n".join(t for _, t in want_turns)
    assert row["n_turns"] == len(want_turns)


def test_spread_scatters_large_conversation(spark):
    """One long conversation clustered in ONE input partition must reach
    the fused kernel stage on every core, under the session's AQE
    defaults: the heavy route's explicit-count exchange is not coalesced
    by bytes (SURVEY.md §4)."""
    df = transcripts_df(spark, 3, skew_conv=1, skew_turns=200).coalesce(1)
    heavy = extract_transcripts(df, CFG).where(
        (F.col("conv_id") == "conv000001") & (F.col("kind") != "plain")
    )
    parts = heavy.select(F.spark_partition_id().alias("pid")).distinct().collect()
    assert len(parts) == spark.sparkContext.defaultParallelism
