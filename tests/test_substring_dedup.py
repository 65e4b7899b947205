"""dedup_substring_spans semantics: a planted boilerplate run shared by
otherwise-distinct documents must be found with correct extents in BOTH
documents; unrelated documents must produce no spans."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from rapidocr_spark.functions.dedup import (
    SS_K,
    SS_MIN_SPAN,
    SS_W,
    dedup_substring_spans,
)


@pytest.fixture()
def planted_dir(tmp_path):
    import numpy as np

    rng = np.random.RandomState(99)

    def rand_text(n):
        return "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz "), n))

    boiler = "SUBSCRIBE TO OUR NEWSLETTER FOR DAILY UPDATES AND EXCLUSIVE OFFERS TODAY"
    rows = [
        {"doc_id": 1, "text": rand_text(80) + boiler + rand_text(60)},
        {"doc_id": 2, "text": rand_text(140) + boiler + rand_text(30)},
        {"doc_id": 3, "text": rand_text(200)},
        {"doc_id": 4, "text": rand_text(180)},
    ]
    pdf = pd.DataFrame(rows)
    pdf["lang"] = "en"
    pdf.to_parquet(os.path.join(tmp_path, "documents.parquet"))
    return str(tmp_path), boiler, rows


def test_planted_boilerplate_found(spark, planted_dir):
    sf_dir, boiler, rows = planted_dir
    out = dedup_substring_spans(spark, sf_dir).toPandas()
    hit = out[(out.doc_a == 1) & (out.doc_b == 2)]
    assert len(hit) >= 1, out
    best = hit.sort_values("span_len", ascending=False).iloc[0]
    # the reported span must lie inside the planted run (1-based, winnowing
    # can shave up to w+k-2 chars at each edge) and cover most of it
    a_lo = rows[0]["text"].index(boiler) + 1
    b_lo = rows[1]["text"].index(boiler) + 1
    assert best.a_start >= a_lo and best.a_end <= a_lo + len(boiler) - 1
    assert best.b_start >= b_lo and best.b_end <= b_lo + len(boiler) - 1
    assert best.span_len >= len(boiler) - 2 * (SS_W + SS_K - 2)
    assert best.span_len >= SS_MIN_SPAN
    # the same offset difference holds on both sides (one diagonal)
    assert best.b_start - best.a_start == b_lo - a_lo
    # unrelated docs share nothing
    others = out[(out.doc_a != 1) | (out.doc_b != 2)]
    assert len(others) == 0, others


def test_coverage_on_planted_corpus(spark, planted_dir):
    """dedup_substring_coverage over the planted corpus: the two docs
    sharing the boilerplate show a covered region inside the planted
    run's extent; the unrelated docs show exactly zero.  Plus the
    structural invariants: covered ≤ len, covered ≥ the single longest
    span (a union can only grow), merged regions ≤ raw spans."""
    from rapidocr_spark.functions.dedup import (
        dedup_substring_coverage,
    )

    sf_dir, boiler, rows = planted_dir
    spans = dedup_substring_spans(spark, sf_dir).toPandas()
    cov = dedup_substring_coverage(spark, sf_dir).toPandas().set_index("doc_id")
    assert cov.loc[3].covered_chars == 0 and cov.loc[4].covered_chars == 0
    assert cov.loc[3].n_spans == 0 and not cov.loc[3].dup_frac
    for doc, scol, ecol in ((1, "a_start", "a_end"), (2, "b_start", "b_end")):
        row = cov.loc[doc]
        longest = int((spans[ecol] - spans[scol] + 1).max())
        assert 0 < row.covered_chars <= row.len_chars
        assert row.covered_chars >= longest
        assert row.n_regions <= row.n_spans
        assert abs(row.dup_frac - row.covered_chars / row.len_chars) < 1e-12


def _generates(plan):
    """Every Generate (explode) node of a JVM logical plan, depth-first."""
    if plan.nodeName() == "Generate":
        yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _generates(children.apply(i))


def test_span_pairs_stream_within_occurrence_list(spark, tmp_path):
    """Memory bound of the span pair stage on a highly repetitive corpus:
    two documents, each repeating one winnowing window (SS_W chars) over
    1,000 times, so one df-2 fingerprint holds ~2,200 occurrences and
    ~1.2M ordered pairs.  The df cap bounds distinct docs, not
    occurrences, so the pairs must stream: no array that feeds a pair
    explode may be longer than its row's occurrence list `occ` (a
    flattened in-row pair array would be occ²/2 long), and the plan
    has no flatten.  The rows equal the flattened form's on this
    input (count, digest and end rows computed from it once)."""
    import hashlib

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql.classic.column import Column

    unit = "abcdefgh"[:SS_W]
    pdf = pd.DataFrame(
        [{"doc_id": 1, "text": unit * 1000}, {"doc_id": 2, "text": "zz" + unit * 1200}]
    )
    pdf["lang"] = "en"
    pdf.to_parquet(os.path.join(tmp_path, "documents.parquet"))
    df = dedup_substring_spans(spark, str(tmp_path))

    qe = df._jdf.queryExecution()
    assert "flatten" not in qe.analyzed().toString().lower()
    jvm = spark._jvm
    column = jvm.org.apache.spark.sql.classic.ExpressionUtils.column
    checked = 0
    for gen in _generates(qe.optimizedPlan()):
        arr = gen.generator().children().apply(0)
        refs = arr.references().toSeq()
        if "occ" not in [refs.apply(i).name() for i in range(refs.size())]:
            continue  # the run-splitter explode, not a pair explode
        child = gen.child()
        out = child.output()
        occ = next(
            out.apply(i) for i in range(out.size()) if out.apply(i).name() == "occ"
        )
        rows = DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(qe.sparkSession(), child),
            spark,
        )
        got = rows.select(
            F.max(F.size(Column(column(arr))) - F.size(Column(column(occ)))).alias("excess"),
            F.max(F.size(Column(column(occ)))).alias("occ"),
        ).first()
        assert got["occ"] >= 2000, got  # the adversarial fingerprint is there
        assert got["excess"] <= 0, got
        checked += 1
    assert checked >= 1

    rows = sorted(tuple(r) for r in df.collect())
    assert len(rows) == 2193
    assert rows[:2] == [(1, 2, 7, 30, 9577, 9600, 24, 2), (1, 2, 7, 38, 9569, 9600, 32, 3)]
    assert rows[-2:] == [(1, 2, 7967, 7998, 9, 40, 32, 3), (1, 2, 7975, 7998, 9, 32, 24, 2)]
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == (
        "2c545b1dcee3b1ebd2cfba733f83de2a67696b21fbb65a09e742d73ea9d4dfb0"
    )
