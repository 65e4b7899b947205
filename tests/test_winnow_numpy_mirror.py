"""Round-8 optimization pin: the vectorised numpy winnowing-postings
kernel (functions/dedup._winnow_np) must produce the EXACT row set of the
original Catalyst higher-order-fold pipeline it replaced — same k-gram
hashes (the engine's polynomial left fold), same window minima, same
(fp, pos) decoding.  All-integer arithmetic, so equality is exact, and
the DuckDB oracle (untouched) keeps gating the same values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rapidocr_spark.functions.dedup import SS_K, SS_LIFT, SS_W, _winnow_postings
from rapidocr_spark.functions.text import kgram_hash_frame


def _catalyst_postings(d):
    """The pre-round-8 Catalyst implementation, kept verbatim as the
    reference the numpy kernel is pinned against."""
    hd = kgram_hash_frame(d, SS_K)
    enc = F.transform(
        F.sequence(F.lit(1), F.size("hs")),
        lambda p: (F.element_at(F.col("hs"), p) * F.lit(SS_LIFT) + p).cast("bigint"),
    )
    ed = hd.select("doc_id", enc.alias("ec"))
    sel = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("ec") - (SS_W - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("ec"), j, SS_W)),
    )
    return (
        ed.select("doc_id", F.explode(F.array_distinct(sel)).alias("c"))
        .select(
            "doc_id",
            F.expr(f"c div {SS_LIFT}").cast("bigint").alias("fp"),
            F.pmod(F.col("c"), F.lit(SS_LIFT)).cast("bigint").alias("pos"),
        )
    )


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_numpy_postings_match_catalyst(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, _winnow_postings(d).collect()))
    want = sorted(map(tuple, _catalyst_postings(d).collect()))
    assert got == want


def test_numpy_postings_edge_short_and_empty_docs(spark):
    rows = [
        (0, ""),                       # empty → split yields [""] → hash 0
        (1, "a"),                      # single char, n < k
        (2, "abcdefghij"),             # n < k multi-char
        (3, "abcdefghijklmnop"),       # n == k exactly (one position)
        (4, "abcdefghijklmnopq"),      # n == k + 1
        (5, "x" * (SS_K + SS_W - 2)),  # hashes shorter than the window
        (6, "the the the the the the the the"),  # repeats → distinct dedup
        (7, "héllo wörld ünïcode ça va très bien aujourd'hui"),  # non-ASCII
        (8, None),                     # NULL text → one (doc_id, NULL, NULL) row
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, _winnow_postings(d).collect()))
    want = sorted(map(tuple, _catalyst_postings(d).collect()))
    assert got == want
