"""Round-8 optimization pin: the vectorised numpy shingle kernel
(functions/dedup._shingles_np) must produce the EXACT row multiset of the
original Catalyst pipeline it replaced — same ASCII-\\s tokenization of
the space-trimmed text, same distinct-by-STRING 4-gram set, same
polynomial hashes (so even same-doc hash collisions, were any to exist,
would emit identical row multisets).  All-integer values: equality is
exact, and the untouched DuckDB oracle keeps gating the same numbers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rapidocr_spark.functions.dedup import SHINGLE_N, _shingles
from rapidocr_spark.functions.text import poly_hash


def _catalyst_shingles(d):
    """The pre-round-8 Catalyst implementation, kept verbatim as the
    reference the numpy kernel is pinned against."""
    base = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).where(F.size("t") >= SHINGLE_N)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("t") - SHINGLE_N),
        lambda i: F.concat_ws(" ", F.slice("t", i + 1, SHINGLE_N)),
    )
    return (
        base.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .select("doc_id", poly_hash(F.col("shingle")).alias("shingle"))
    )


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_numpy_shingles_match_catalyst(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, _shingles(d).collect()))
    want = sorted(map(tuple, _catalyst_shingles(d).collect()))
    assert got == want


def test_numpy_shingles_edge_cases(spark):
    rows = [
        (0, ""),                                  # below SHINGLE_N tokens
        (1, "one two three"),                     # exactly N-1 tokens
        (2, "one two three four"),                # exactly N tokens
        (3, "one two three four five"),           # N+1
        (4, "\tlead tab one two three four"),     # leading non-space ws → "" token
        (5, "trail one two three four\n"),        # trailing ws → "" token
        (6, "  spaces  only   trimmed two three four  "),  # space runs
        (7, "rep rep rep rep rep rep rep rep"),   # repeated shingles → distinct
        (8, "héllo wörld ünïcode ça va très bien"),  # non-ASCII codepoints
        (9, "a\u00a0b\u00a0c one two three four"),  # NBSP is NOT Java \\s - stays in-token
        (10, "x\vy one two three four"),          # \x0b IS Java \s
        (11, None),                               # NULL text → dropped
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, _shingles(d).collect()))
    want = sorted(map(tuple, _catalyst_shingles(d).collect()))
    assert got == want


def test_chunks_bound_padded_matrix():
    """_shingles_np's prefix-scan matrices are (n_docs × longest doc) per
    chunk, so the chunk cap must bound that PADDED size, not the summed
    characters: 500 tiny docs followed by one doc just under
    CHUNK_CHARS fit a cumulative-chars budget together, and would pad to
    ~501 × CHUNK_CHARS cells.  Every doc stays, in input order."""
    from rapidocr_spark.functions.dedup import CHUNK_CHARS, _shingle_chunks

    parsed = [(i, "tiny doc text", None, None) for i in range(500)]
    parsed.append((500, "x" * (CHUNK_CHARS - 10_000), None, None))
    chunks = _shingle_chunks(parsed)
    padded = max(len(c) * max(len(doc[1]) for doc in c) for c in chunks)
    assert padded <= CHUNK_CHARS
    assert [doc[0] for c in chunks for doc in c] == list(range(501))
