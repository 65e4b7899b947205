"""Round-8 optimization pin: the numpy candidate-scoring kernel behind
the IVF/SemDeDup assignment helpers (_cand_scored / _refine_once /
_assign_cells / _assign_cells_multi) must reproduce the Catalyst
broadcast-cross-join form EXACTLY — same raw IEEE dots/norms/division
(rounding and argmax stay in Spark), and the candidate pruning margin
must never drop a rounded-argmax winner or tie participant."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rapidocr_spark.functions.similarity import (
    SEM_ASSIGN,
    SEM_K_MULT,
    _assign_cells,
    _assign_cells_multi,
    _cand_scored,
    _centroids,
    _centroids_lloyd,
    _dot,
    _norm,
    _refine_once,
)
from rapidocr_spark.functions.caching import release_tracked


def _catalyst_scored(e, cents):
    """The pre-round-8 Catalyst scoring (all K candidates), verbatim."""
    en = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("_en"))
    cn = cents.select("cent_id", "ce", _norm(F.col("ce")).alias("_cn"))
    cos = F.round(
        _dot(F.col("ce"), F.col("embedding")) / (F.col("_cn") * F.col("_en")),
        6,
    )
    return en.crossJoin(F.broadcast(cn)).select(
        "vec_id", "cent_id", cos.alias("cos_c")
    )


def _catalyst_assign(e, cents):
    scored = _catalyst_scored(e, cents)
    return (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("cos_c"), (-F.col("cent_id")).alias("_nc"))).alias("m"))
        .select(
            "vec_id", (-F.col("m._nc")).alias("cell"), F.col("m.cos_c").alias("cell_cosine")
        )
    )


def _catalyst_assign_multi(e, cents, n_assign):
    scored = _catalyst_scored(e, cents)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cent_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_assign)
        .select("vec_id", F.col("cent_id").alias("cell"), "rk")
    )


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_kernel_raw_scores_bit_identical(spark, sf_dir):
    """keep_top=None: every (vec, cent) rounded cosine equals the
    Catalyst value exactly (float equality == bit equality here)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _centroids(e, SEM_K_MULT)
    got = sorted(map(tuple, _cand_scored(e, cents, None).collect()))
    want = sorted(map(tuple, _catalyst_scored(e, cents).collect()))
    assert got == want


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_assign_matches_catalyst(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for cents_fn in (lambda: _centroids(e), lambda: _centroids_lloyd(e)):
        cents = cents_fn()
        got = sorted(map(tuple, _assign_cells(e, cents).collect()))
        want = sorted(map(tuple, _catalyst_assign(e, cents).collect()))
        assert got == want
        release_tracked()


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_assign_multi_matches_catalyst(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _centroids_lloyd(e, SEM_K_MULT)
    got = sorted(map(tuple, _assign_cells_multi(e, cents, SEM_ASSIGN).collect()))
    want = sorted(map(tuple, _catalyst_assign_multi(e, cents, SEM_ASSIGN).collect()))
    assert got == want
    release_tracked()


def test_refine_centroids_bit_identical(spark):
    """A full Lloyd round produced from kernel assignments must emit
    bit-identical refined centroid vectors (the integer-scaled means
    see the same membership)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    seed = _centroids(e)
    got = {r["cent_id"]: r["ce"] for r in _refine_once(e, seed).collect()}

    # Catalyst reference refine: original assignment + the same mean path
    asg = (
        _catalyst_scored(e, seed)
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("cos_c"), (-F.col("cent_id")).alias("_nc"))).alias("m"))
        .select("vec_id", (-F.col("m._nc")).alias("cell"))
    )
    from rapidocr_spark.functions.similarity import CENT_SCALE

    ex = (
        e.join(asg, "vec_id")
        .select("cell", F.posexplode(F.col("embedding")).alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("v").cast("double") * F.lit(CENT_SCALE)).cast("long")).alias("s"),
        )
    )
    want = {
        r["cent_id"]: r["ce"]
        for r in ex.groupBy("cell")
        .agg(F.max("cnt").alias("cnt"), F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            F.col("cell").alias("cent_id"),
            F.transform(F.col("ps"), lambda x: x["s"].cast("double") / (F.lit(CENT_SCALE) * F.col("cnt"))).alias("ce"),
        )
        .collect()
    }
    assert got == want


def test_zero_vector_both_paths_fail_loudly(spark):
    """Under ANSI mode the Catalyst path throws DIVIDE_BY_ZERO on a
    zero-norm embedding; the kernel must fail the same situation loudly
    (never silently drop or mis-rank the vector) so the two paths stay
    interchangeable."""
    import pytest as _pt
    from pyspark.sql import Row
    from pyspark.errors.exceptions.captured import ArithmeticException
    from pyspark.errors.exceptions.base import PySparkException

    rows = [Row(vec_id=i, embedding=[float((i * 7 + j) % 5 - 2) for j in range(64)])
            for i in range(20)]
    rows[3] = Row(vec_id=3, embedding=[0.0] * 64)  # zero vector
    e = spark.createDataFrame(rows)
    cents = e.limit(6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    with _pt.raises(ArithmeticException):
        _catalyst_assign(e, cents).collect()
    with _pt.raises(Exception) as exc:
        _assign_cells(e, cents).collect()
    assert "zero-norm" in str(exc.value)


@pytest.mark.parametrize("null_centroid", [False, True])
def test_null_embedding_scores_like_catalyst(spark, null_centroid):
    """A NULL embedding makes every Catalyst fold over it NULL: its
    cosines are NULL (no DIVIDE_BY_ZERO), a NULL vector still lands in a
    cell (the lowest cent_id wins the all-NULL tie) and a NULL centroid
    never beats a scored one.  The kernel must give the same rows, not
    fail the task."""
    from pyspark.sql import Row

    rows = [Row(vec_id=i, embedding=[float((i * 7 + j) % 5 - 2) for j in range(64)])
            for i in range(20)]
    rows[3] = Row(vec_id=3, embedding=None)
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    picked = [0, 1, 2, 3, 4, 5] if null_centroid else [0, 1, 2, 4, 5, 6]
    cents = e.where(F.col("vec_id").isin(picked)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )

    def rows_of(df):
        return sorted(map(tuple, df.collect()), key=repr)

    assert rows_of(_cand_scored(e, cents, None)) == rows_of(_catalyst_scored(e, cents))
    assert rows_of(_assign_cells(e, cents)) == rows_of(_catalyst_assign(e, cents))
    assert rows_of(_assign_cells_multi(e, cents, SEM_ASSIGN)) == rows_of(
        _catalyst_assign_multi(e, cents, SEM_ASSIGN)
    )


def test_centroid_collect_bound_raises(spark, monkeypatch):
    """_cand_scored collects the centroid frame to ship it as the model;
    a frame above SEM_K_MULT * K_MAX_CENTROIDS rows must fail with a
    clear error (a raise, which python -O keeps), never ship an
    unbounded model."""
    import rapidocr_spark.functions.similarity as sim
    from pyspark.sql import Row

    e = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j) % 5 - 2) for j in range(64)])
         for i in range(40)]
    )
    cents = e.select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    monkeypatch.setattr(sim, "K_MAX_CENTROIDS", 8)  # bound 2 * 8 = 16 < 40 rows
    with pytest.raises(ValueError, match="collect bound"):
        _cand_scored(e, cents, 1)
