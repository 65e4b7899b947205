"""Round-8 optimization pin: the vectorised numpy winnowing-postings
kernel (functions/dedup._winnow_np) must produce the EXACT row set of the
original Catalyst higher-order-fold pipeline it replaced — same k-gram
hashes (the engine's polynomial left fold), same window minima, same
(fp, pos) decoding.  All-integer arithmetic, so equality is exact, and
the DuckDB oracle (untouched) keeps gating the same values.

The kernel is the only k-gram winnowing front in production: the
doc_winnow_* leaves read its postings too, so their retired Catalyst
bodies (and the k-gram slice fold they shared) live on here as the
reference both leaves are pinned against, schema included."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rapidocr_spark.functions.dedup import (
    SS_K,
    SS_LIFT,
    SS_W,
    _winnow_postings,
    doc_winnow_fingerprints,
    doc_winnow_min_hash,
)
from rapidocr_spark.functions.text import POLY_A, POLY_P

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

EDGE_ROWS = [
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


def kgram_hash_frame(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, hs) with hs[i] = poly_hash of the k-gram starting at
    1-based char i — the Catalyst reference front of every winnowing
    consumer (doc_winnow_min_hash / doc_winnow_fingerprints / the
    substring-dedup postings).

    Implementation: the codepoint array is materialised ONCE per doc and
    each k-gram folds over an int SLICE of it — ~2× faster than hashing
    substring(text, i, k) per position (measured 4.4 s → 2.2 s over the
    sf0.1 corpus: no per-position string copy / split / ascii).  The cp
    projection survives CollapseProject ONLY because the consumer
    references it twice (size bound + slice lambda) — a single-referenced
    version gets folded back into the position lambda and re-splits the
    text per position, the 10× regression recorded in BASELINE.md.
    Values are identical to poly_hash-over-substring: ascii() reads the
    first char's codepoint either way."""
    cp = F.transform(F.split(F.col("text"), ""), lambda ch: F.ascii(ch).cast("bigint"))
    dc = d.select("doc_id", cp.alias("cp"))
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("cp") - (k - 1), F.lit(1))),
        lambda i: F.aggregate(
            F.slice(F.col("cp"), i, k),
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * POLY_A + x) % POLY_P,
        ),
    )
    return dc.select("doc_id", hashes.alias("hs"))


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


def _catalyst_min_hash(d):
    """The retired Catalyst body of doc_winnow_min_hash, verbatim."""
    hd = kgram_hash_frame(d, 16)
    return hd.select(
        "doc_id", F.array_min("hs").cast("bigint").alias("winnow_fp")
    )


def _catalyst_fingerprints(d):
    """The retired Catalyst body of doc_winnow_fingerprints, verbatim."""
    k, w = 16, 8
    hd = kgram_hash_frame(d, k)
    sel = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("hs") - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("hs"), j, w)),
    )
    out = hd.select("doc_id", F.array_distinct(sel).alias("fps"))
    return out.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.aggregate("fps", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("fp_sum"),
        F.array_min("fps").cast("bigint").alias("fp_min"),
    )


LEAVES = pytest.mark.parametrize(
    "leaf, reference",
    [
        (doc_winnow_min_hash, _catalyst_min_hash),
        (doc_winnow_fingerprints, _catalyst_fingerprints),
    ],
    ids=["doc_winnow_min_hash", "doc_winnow_fingerprints"],
)


def _rows(df) -> list[tuple]:
    # doc_id leads every row, and NULL text yields one row of its own,
    # so the sort never compares a NULL field
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    """EDGE_ROWS as a documents table the leaves can scan."""
    root = tmp_path_factory.mktemp("winnow_edge")
    spark.createDataFrame(EDGE_ROWS, "doc_id long, text string").write.parquet(
        str(root / "documents.parquet")
    )
    return str(root)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_numpy_postings_match_catalyst(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _rows(_winnow_postings(d)) == _rows(_catalyst_postings(d))


def test_numpy_postings_edge_short_and_empty_docs(spark):
    d = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    assert _rows(_winnow_postings(d)) == _rows(_catalyst_postings(d))


def _assert_leaf_matches(spark, leaf, reference, sf_dir):
    got = leaf(spark, sf_dir)
    want = reference(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@LEAVES
@pytest.mark.parametrize("sf_dir", SCALES)
def test_winnow_leaf_matches_catalyst(spark, leaf, reference, sf_dir):
    _assert_leaf_matches(spark, leaf, reference, sf_dir)


@LEAVES
def test_winnow_leaf_edge_short_and_empty_docs(spark, edge_dir, leaf, reference):
    _assert_leaf_matches(spark, leaf, reference, edge_dir)
