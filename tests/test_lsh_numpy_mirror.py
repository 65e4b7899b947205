"""The numpy sign-LSH kernel (functions/similarity._sign_buckets) must
reproduce the Catalyst plane folds it replaced EXACTLY: the same
(vec_id, tbl, bucket) rows for ann_lsh_buckets and for both tables of
dedup_embedding_cosine, at three scales and on rows the corpus never
holds (NULL embedding, NULL element, NaN and infinite elements, a short
vector, an all-zero vector).  Bucket ids are integers, so equality is
exact; the untouched DuckDB oracle keeps gating the same numbers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rapidocr_spark.functions.similarity import (
    DEDUP_TABLES,
    DIM,
    LSH_PLANES,
    MAX_PLANES,
    MIN_PLANES,
    _dedup_buckets,
    _emb,
    _plane_weight,
    _sign_buckets,
    ann_lsh_buckets,
)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _plane_proj(k, table=0) -> "F.Column":
    """dot(embedding, plane k of ``table``) — the Catalyst fold the
    kernel replaced, verbatim."""
    return F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(float(_plane_weight(k, i, table))) for i in range(DIM)]),
            lambda x, wgt: x.cast("double") * wgt,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _adaptive_bucket(table: int, planes_col) -> "F.Column":
    """dedup_embedding_cosine's Catalyst bucket expression, verbatim."""
    bucket = F.lit(0).cast("bigint")
    for k in range(MAX_PLANES):
        proj = _plane_proj(k, table)
        bit = F.when((F.lit(k) < planes_col) & (proj > 0.0), F.lit(1 << k)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def _catalyst_lsh(e):
    """ann_lsh_buckets' Catalyst body, verbatim, as (vec_id, tbl, bucket)."""
    bucket = F.lit(0)
    for k in range(LSH_PLANES):
        bucket = bucket + F.when(_plane_proj(k) > 0.0, F.lit(1 << k)).otherwise(F.lit(0))
    return e.select("vec_id", F.lit(0).alias("tbl"), bucket.cast("int").alias("bucket"))


def _catalyst_dedup(e):
    """dedup_embedding_cosine's Catalyst tables, verbatim up to the union."""
    planes = e.agg(
        F.least(
            F.lit(MAX_PLANES),
            F.greatest(
                F.lit(MIN_PLANES),
                F.ceil(F.log2(F.count(F.lit(1)))).cast("int"),
            ),
        ).alias("planes")
    )
    base = e.crossJoin(F.broadcast(planes))
    tables = [
        base.select(
            "vec_id",
            F.lit(t).alias("tbl"),
            _adaptive_bucket(t, F.col("planes")).alias("bucket"),
        )
        for t in range(DEDUP_TABLES)
    ]
    v = tables[0]
    for tdf in tables[1:]:
        v = v.unionByName(tdf)
    return v


def _rows(df):
    return sorted(map(tuple, df.select("vec_id", "tbl", "bucket").collect()))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ann_lsh_buckets_match_catalyst(spark, sf_dir):
    got = ann_lsh_buckets(spark, sf_dir).withColumn("tbl", F.lit(0))
    assert _rows(got) == _rows(_catalyst_lsh(_emb(spark, sf_dir)))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_dedup_tables_match_catalyst(spark, sf_dir):
    e = _emb(spark, sf_dir)
    got = _rows(_dedup_buckets(e))
    assert {r[1] for r in got} == set(range(DEDUP_TABLES))
    assert got == _rows(_catalyst_dedup(e))


def test_hostile_rows_match_catalyst(spark):
    """Catalyst folds a NULL list, a NULL element or a length other than
    DIM to a NULL projection (bit 0), and a NaN projection sets the bit
    (Spark orders NaN above every double, so NaN > 0.0 is true).  The
    kernel must agree row for row, in both bucket builders."""
    assert spark.sql("SELECT CAST('NaN' AS DOUBLE) > 0.0 AS x").first().x is True
    rows = [
        (i, i % 3, [((i * 7 + j * 3) % 11 - 5) * 0.37 for j in range(DIM)])
        for i in range(40)
    ]
    one = [0.5] * DIM
    rows += [
        (40, 0, None),                                    # NULL embedding
        (41, 0, one[:7] + [None] + one[8:]),              # NULL element
        (42, 0, one[:5] + [math.nan] + one[6:]),          # NaN element
        (43, 0, [0.0] * DIM),                             # all-zero vector
        (44, 0, [-0.5] * 9 + [math.inf] + [-0.5] * 54),   # inf element: ±inf or NaN
        (45, 0, one[:-1]),                                # DIM - 1 elements
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    lsh_in = e.select("vec_id", "embedding", F.lit(LSH_PLANES).alias("planes"))
    lsh = _rows(_sign_buckets(lsh_in, (0,)))
    assert lsh == _rows(_catalyst_lsh(e))
    by_id = {r[0]: r[2] for r in lsh}
    assert by_id[40] == by_id[41] == by_id[45] == 0 and by_id[43] == 0
    assert by_id[42] == (1 << LSH_PLANES) - 1  # a NaN projection sets every bit
    assert _rows(_dedup_buckets(e)) == _rows(_catalyst_dedup(e))
