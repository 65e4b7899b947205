"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle_sql() runs on Spark AND DuckDB over the same parquet and
must produce the exact same multiset of rows (SURVEY.md §5 item 5).

Runs at sf0.001 by default (fast); set PARITY_SF_DIR to check others.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from rapidocr_spark.plans.shell import oracle_sql, queries

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
ORACLES = oracle_sql()
QUERIES = queries()


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _rows(pdf):
    cols = sorted(pdf.columns)
    out = []
    for t in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon(v) for v in t))
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark, duck):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).fetch_df()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    a, b = _rows(spark_pdf), _rows(duck_pdf)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mism = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mism, f"{name}: {len(mism)} differing rows; first: {mism[0]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0 and len(df.schema.fields) > 0


@pytest.mark.parametrize("name", ["doc_quality_score", "doc_fingerprint"])
def test_empty_and_null_text_parity(name, spark, tmp_path):
    """The sf0.001 documents plus one empty-text and one NULL-text row:
    Spark and the DuckDB oracle agree on both (an empty text's ratios are
    NULL in both engines, and a NULL text hashes to NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    top = max(docs.column("doc_id").to_pylist())
    extra = pa.table(
        {
            "doc_id": [top + 1, top + 2],
            "text": ["", None],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [0, None],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    spark_rows = _rows(QUERIES[name](spark, str(tmp_path)).toPandas())
    duck_rows = _rows(con.execute(ORACLES[name]).fetch_df())
    assert spark_rows == duck_rows
