"""Window/ordering plans over the events stream table (batch view).

W2's stable-ordering discipline, exercised on the driver-provided events
table: sessionization via lag(), per-bucket top-k via row_number(), and
rollups.  All built-in window functions — one shuffle per partitionBy key.

The sketches (KMV, CMS, quantile buckets, HLL, bloom) hash ids through one
affine hash, _affine_hash; the CMS rows and the bloom planes explode their
positions through one _hash_positions, every CMS estimate is _cms_estimate's
min over cells, and both HLL leaves build and fold registers through
_hll_registers / _hll_estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.caching import track_persist

SESSION_GAP_SEC = 1800


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NO spread_parquet here, on purpose (round-8 A/B): the events
    # queries are cheap map-side aggregations, and the defensive
    # round-robin exchange (with its deterministic sort-before-
    # repartition of the whole table) costs more than the single-task
    # scan it replaces — measured +1.6 s per query at sf1.0, zero
    # offsetting win (unlike the fold/regex-heavy documents/embeddings
    # consumers, where the spread is 5-15×)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ev_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rollup (counts + value aggregates) — the simplest
    map-side-combinable groupBy over the events table."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    )


def ev_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap from the
    previous event of the same user exceeds 30 min."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            > SESSION_GAP_SEC * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("int"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("new_session") + F.lit(1)).cast("bigint").alias("n_sessions"),
    )


def ev_hourly_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per hour, the most frequent event type (deterministic tie-break)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("event_type").alias("top_type"),
            F.col("n").alias("n_events"),
        )
    )


def ev_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the integer out of the JSON-ish
    props column with a regexp (portable to the DuckDB oracle)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r"([0-9]+)", 1).try_cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
    )


def ev_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean over the last 4 events per user (ROWS frame)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


def ev_rank_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank of event types by volume (deterministic tie-break)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy(F.col("n_events").desc(), F.col("event_type"))
    return counts.select("event_type", "n_events", F.dense_rank().over(w).alias("rnk"))


def ev_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) of users by total event value — computed WITHOUT a global
    single-partition window: distributed exact rank (functions/ranking.py)
    + the exact ntile closed form (first n%k tiles get n div k + 1 rows,
    the rest n div k)."""
    from ..functions.ranking import with_global_rank

    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value")
    )
    n = totals.agg(F.count(F.lit(1)).alias("_n"))
    ranked = with_global_rank(
        totals, [F.col("total_value").desc(), F.col("user_id")], rank_col="_rank"
    )
    tile = F.expr(
        """CASE WHEN _rank <= (_n % 4) * (_n div 4 + 1)
                THEN (_rank - 1) div (_n div 4 + 1) + 1
                ELSE (_n % 4)
                     + (_rank - (_n % 4) * (_n div 4 + 1) - 1)
                       div greatest(_n div 4, 1) + 1
           END"""
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .select("user_id", "total_value", tile.cast("int").alias("quartile"))
    )


# KMV (k-minimum-values) distinct sketch — the "novel sketch" operator,
# re-expressed relationally so it is exact-reproducible in the oracle:
# hash ids with the engine's own affine hash, keep the k-th smallest
# distinct hash h_k, estimate |D| ≈ (k-1) · P / h_k.
KMV_K = 32
KMV_A = 2654435761
KMV_B = 40503
KMV_P = 1_000_000_007
KMV_SALT = 64


def _affine_hash(key: "F.Column", a: int, b: int) -> "F.Column":
    """The engine's affine id hash ((key % P)·a + b) % P, P = KMV_P, for
    every sketch: (a, b) = (KMV_A, KMV_B) for KMV, HLL and the quantile
    buckets, CMS_AB[d] for the CMS rows and bloom planes.  The key is
    reduced mod P BEFORE the multiply: (P-1)·a ≈ 2.65e18 < 2^63-1, so the
    hash never overflows int64 under ANSI mode no matter how large ids
    grow (ids < P hash identically to the unreduced form)."""
    return ((key % KMV_P) * a + b) % KMV_P


def _kmv_hashes(ev: DataFrame) -> DataFrame:
    return ev.select(
        "event_type", _affine_hash(F.col("user_id"), KMV_A, KMV_B).alias("h")
    ).distinct()


def _kmv_kth(hashed: DataFrame) -> DataFrame:
    """→ (event_type, n_kept, hk): the k-th smallest distinct hash per
    group (hk null when the group holds fewer than k) via two BOUNDED,
    SPILLABLE sort passes — no array materialisation anywhere (VERDICT r02
    item 6: the old two-level agg collect_list'd every distinct hash of a
    (group, salt) bucket into one in-memory aggregation buffer):

    - level 1: row_number over (group, salt) ordered by h, keep rk ≤ k —
      a window SORT (external, spill-to-disk) whose retained output is
      O(k) rows per bucket;
    - level 2: row_number over the ≤ SALT·k survivors per group — the
      global k-minimum set is always contained in the union of per-bucket
      k-minimum sets, so taking the k-th there is exact.

    A hot group can hold any number of distinct hashes and the plan's
    memory stays bounded by the sorter's page budget, not the group size."""
    w1 = Window.partitionBy("event_type", "_salt").orderBy("h")
    l1 = (
        hashed.withColumn("_salt", F.pmod(F.col("h"), F.lit(KMV_SALT)))
        .withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= KMV_K)
    )
    w2 = Window.partitionBy("event_type").orderBy("h")
    return (
        l1.withColumn("_rk2", F.row_number().over(w2))
        .where(F.col("_rk2") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(F.when(F.col("_rk2") == KMV_K, F.col("h"))).alias("hk"),
        )
    )


def _kmv_estimate_col() -> "F.Column":
    return F.when(
        F.col("hk").isNotNull(),
        F.round(F.lit(float(KMV_K - 1)) * F.lit(float(KMV_P)) / F.col("hk"), 4),
    ).otherwise(F.col("n_kept").cast("double"))


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure sketch path: O(k) state per group, no exact-distinct twin
    (the sketch exists precisely so the exact count is never computed at
    scale; the measured-error companion is sketch_distinct_error)."""
    ev = _t(spark, sf_dir, "events")
    return _kmv_kth(_kmv_hashes(ev)).select(
        "event_type", _kmv_estimate_col().alias("kmv_estimate")
    )


def sketch_distinct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gauge: sketch estimate vs exact distinct + relative error —
    the error is measured, not assumed (test-scale companion query)."""
    ev = _t(spark, sf_dir, "events")
    hashed = track_persist(_kmv_hashes(ev))
    est = _kmv_kth(hashed).select(
        "event_type", _kmv_estimate_col().alias("kmv_estimate")
    )
    exact = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_distinct",
        "kmv_estimate",
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


# Count-Min Sketch — the FREQUENCY sibling of the KMV distinct sketch:
# per-key event counts estimated from D·W integer cells (4·256 = 1 KiB of
# state at ANY corpus size, vs a groupBy over 10⁹ users at 100 TB), with
# the classic one-sided guarantee est ≥ exact.  Row hashes are the
# engine's own affine family (exact int64 arithmetic, oracle-identical);
# the estimate is min over rows of the hashed-cell counts.

CMS_D = 4     # hash rows
CMS_W = 64    # buckets per row — deliberately tight for the test corpus
              # (~2.3 keys/bucket at sf0.01) so the gauge EXERCISES
              # collisions instead of vacuously reporting overest=0;
              # production sizes W ≈ ⌈e/ε⌉ for an ε·total additive bound
              # (ε=1e-6 → W=2.7M cells ≈ 21 MB/row — still O(1) in N)
CMS_AB = ((2654435761, 40503), (2246822519, 3266489917),
          (668265263, 374761393), (2654435769, 2246822507))
CMS_P = KMV_P


def _hash_positions(key: "F.Column", n: int, width: int) -> "F.Column":
    """posexplode of key's n positions (d, pos): pos = the CMS_AB[d]
    affine hash of key, mod width — the CMS rows (n = CMS_D, width =
    CMS_W) and the bloom planes (BLOOM_K, BLOOM_M)."""
    return F.posexplode(
        F.array(*[_affine_hash(key, *CMS_AB[d]) % width for d in range(n)])
    )


def _cms_estimate(probes: DataFrame, cells: DataFrame, name: str) -> DataFrame:
    """(user_id, exact_count, name): each user's Count-Min estimate, the
    min count c over the cells its (d, bucket) probe rows hit in the
    broadcast (d, bucket, c) cell table."""
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias(name))
    )


def sketch_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min per-user event-count estimates NEXT TO the exact counts —
    the measured-error companion (the sketch path alone never computes
    the exact twin; here the one-sided overestimate guarantee est ≥ exact
    and its magnitude are VERIFIED per key, the sketch_distinct_error
    discipline).  Plan: one pass builds all D rows of the sketch via a
    posexplode of the D bucket columns (groupBy over ≤ D·W cells,
    map-side combinable), the 1 KiB table broadcasts back, and each
    user's estimate is the min over its D cell counts."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select("user_id")
    cms = _hash_positions(F.col("user_id"), CMS_D, CMS_W).alias("d", "bucket")
    cells = keyed.select(cms).groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = keyed.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = _cms_estimate(exact.select("user_id", "exact_count", cms), cells, "est_count")
    return est.select(
        "user_id",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.col("est_count").cast("bigint").alias("est_count"),
        (F.col("est_count") - F.col("exact_count")).cast("bigint").alias("overest"),
    )


def sketch_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min MERGEABILITY proof — the CMS twin of sketch_hll_merge:
    per-DAY partial sketches (one D×W counter table per day, the shape
    per-shard rollups produce) merged by CELL-WISE SUM must equal the
    direct one-pass sketch exactly — counter addition is associative, so
    every per-user min-over-cells estimate is IDENTICAL integer-for-
    integer.  merge_exact is the structural proof column.  Completes the
    mergeability story across the sketch family: KMV (two-level k-min
    property test), CMS (here), HLL (sketch_hll_merge), KLL quantiles
    (mergeable by construction, eps bound emitted).

    Plan: one pass explodes the D bucket keys per event, one
    groupBy(day, d, bucket) for the partials, one groupBy(d, bucket)
    sum-merge (≤ D·W cells), both tiny tables broadcast back to the
    bounded per-user probe frame."""
    ev = _t(spark, sf_dir, "events")
    cms = _hash_positions(F.col("user_id"), CMS_D, CMS_W).alias("d", "bucket")
    keyed = track_persist(ev.select("user_id", F.to_date("ts").alias("day"), cms))
    daily = keyed.groupBy("day", "d", "bucket").agg(F.count(F.lit(1)).alias("c"))
    merged = daily.groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    direct = keyed.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = keyed.where(F.col("d") == 0).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    probes = track_persist(exact.select("user_id", "exact_count", cms))
    nd = keyed.agg(F.countDistinct("day").alias("n_days"))
    return (
        _cms_estimate(probes, direct, "est_direct")
        .join(_cms_estimate(probes, merged, "est_merged"), ["user_id", "exact_count"])
        .crossJoin(F.broadcast(nd))
        .select(
            "user_id",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("est_direct").cast("bigint").alias("est_direct"),
            F.col("est_merged").cast("bigint").alias("est_merged"),
            F.col("n_days").cast("bigint").alias("n_days"),
            (F.col("est_direct") == F.col("est_merged")).alias("merge_exact"),
        )
    )


# Quantile sketch — the PERCENTILE sibling of the KMV/CMS sketches.
# Round 6 (VERDICT r05 item 3) replaced the unweighted hashed sample with a
# MERGEABLE BOUNDED-ERROR sketch: a KLL/MRL-style compactor per
# (group, hash-bucket) built from pure window/groupBy passes.
#
#   1. build: events hash into QK_BUCKETS deterministic buckets; within each
#      (group, bucket) a systematic RANK sample keeps local ranks
#      1, 1+m, 1+2m, … (m = ⌈n_b / QK_CAP⌉) with exact integer weights
#      min(m, n_b − rank + 1) — Σweights = n_b exactly.  Each bucket's
#      summary is ≤ QK_CAP rows regardless of n_b (the compactor).
#   2. merge: bucket summaries union per group and a single cumulative-
#      weight pass estimates any quantile — the row where the running
#      weight crosses the target rank.  Merging more summaries = more
#      unions, same pass: the sketch is mergeable by construction.
#
# Error GUARANTEE (not just measured): a bucket's cumulative count at any
# value differs from its true local rank by < m_b, so the crossing row's
# true rank is within Σ_b (m_b − 1) of the target — that bound is computed
# as an exact integer per group and EMITTED next to the measured error.
# ε = bound/N ≈ 1/QK_CAP per bucket, independent of N.  Scale shape: the
# per-group global sort of the exact path becomes QK_BUCKETS-way-parallel
# bounded sorts + an O(QK_BUCKETS·QK_CAP) merge.

QK_BUCKETS = 32
QK_CAP = 16   # per-bucket summary capacity — small on purpose so the
              # sf0.01 gate scale already exercises m_b > 1 (the live
              # compaction path; VERDICT r05 noted the old sample was an
              # identity check at gate scale)
QS_PS = (50, 90, 99)


def _disc_quantiles(ev: DataFrame, label: str) -> DataFrame:
    """Exact discrete quantiles per event_type: the value at row
    ceil(p·n/100) of the (value, event_id)-ordered sequence — type-1
    percentile_disc with a deterministic tie order, identical in both
    engines."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    nn = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = ev.withColumn("rk", F.row_number().over(w)).join(nn, "event_type")
    targets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    F.ceil(F.col("n") * p / F.lit(100.0)).cast("long").alias("tgt"),
                )
                for p in QS_PS
            ]
        )
    )
    return (
        ranked.select("event_type", "rk", "value", targets.alias("t"))
        .where(F.col("rk") == F.col("t.tgt"))
        .select(
            "event_type",
            F.col("t.p").cast("int").alias("p"),
            F.round(F.col("value"), 6).alias(label),
        )
    )


def sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bounded-error quantile sketch (module comment above) with
    its measured-error twin: p50/p90/p99 estimated from the bucketed
    compactor summaries next to the exact quantiles, the absolute value
    error, AND the PROVEN rank-error bound Σ_b (m_b − 1) as an exact
    integer column — the measured-not-assumed discipline of
    sketch_distinct_error / sketch_cms_error, upgraded with a guarantee."""
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    exact = _disc_quantiles(ev, "exact_value")
    bkt = (_affine_hash(F.col("event_id"), KMV_A, KMV_B) % QK_BUCKETS).alias("bkt")
    evb = ev.select("event_type", "event_id", "value", bkt)
    wb = Window.partitionBy("event_type", "bkt").orderBy("value", "event_id")
    wbn = Window.partitionBy("event_type", "bkt")
    ranked = evb.withColumn("rk", F.row_number().over(wb).cast("bigint")).withColumn(
        "nb", F.count(F.lit(1)).over(wbn).cast("bigint")
    )
    # integer-only ceil: m_b = (n_b + CAP − 1) div CAP
    ranked = ranked.withColumn("m", F.expr(f"(nb + {QK_CAP - 1}) div {QK_CAP}"))
    kept = ranked.where((F.col("rk") - 1) % F.col("m") == 0).withColumn(
        "w", F.least(F.col("m"), F.col("nb") - F.col("rk") + 1)
    )
    kept = track_persist(kept)
    wm = Window.partitionBy("event_type").orderBy("value", "event_id")
    merged = kept.withColumn(
        "cumw", F.sum("w").over(wm.rowsBetween(Window.unboundedPreceding, 0))
    )
    nn = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    targets = nn.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("p"),
                        F.ceil(F.col("n") * p / F.lit(100.0)).cast("long").alias("tgt"),
                    )
                    for p in QS_PS
                ]
            )
        ).alias("t"),
    ).select("event_type", F.col("t.p").cast("int").alias("p"), F.col("t.tgt").alias("tgt"))
    est = (
        merged.join(F.broadcast(targets), "event_type")
        .where((F.col("cumw") >= F.col("tgt")) & (F.col("cumw") - F.col("w") < F.col("tgt")))
        .select("event_type", "p", F.round(F.col("value"), 6).alias("est_value"))
    )
    # proven per-group rank-error bound: Σ over buckets of (m_b − 1)
    bound = (
        kept.select("event_type", "bkt", "m")
        .distinct()
        .groupBy("event_type")
        .agg(F.sum(F.col("m") - 1).cast("bigint").alias("eps_rank_bound"))
    )
    return (
        exact.join(est, ["event_type", "p"], "left")
        .join(bound, "event_type")
        .select(
            "event_type",
            "p",
            "exact_value",
            "est_value",
            F.round(F.abs(F.col("est_value") - F.col("exact_value")), 6).alias("abs_err"),
            "eps_rank_bound",
        )
    )


# HyperLogLog — the industry-standard mergeable distinct sketch next to
# KMV: m fixed registers, register j keeps the max leading-zero run (rho)
# of the hashes landing in it, estimate = alpha·m² / Σ 2^-M_j.  O(m)
# state per group at ANY cardinality and registers merge by max() — the
# property KMV lacks a cheap analog of (its merge re-sorts k-min sets).
#
# Determinism discipline: rho comes from an exact integer CASE cascade
# (no log/exp); every 2^-M_j is a CASE-mapped exact double literal, and
# the sum of ≤ m such terms is EXACT in IEEE double (all terms are
# multiples of 2^-26 and the total stays < 2^6, so every partial sum is
# representable → the reduction is order-independent — the only reason a
# float SUM is admissible here under the CLAUDE.md rule).  The single
# final division uses an alpha·m² literal injected identically in both
# engines.  No small-range (linear-counting) correction: that needs
# ln(); the measured-error twin quantifies the resulting small-N bias
# honestly instead of hiding it.

HLL_M = 32          # registers (alpha_32 = 0.697); std err ≈ 1.04/√m ≈ 18%
HLL_ALPHA_M2 = 0.697 * HLL_M * HLL_M   # 713.728 — exact repr both engines
HLL_WBITS = 25      # h div 32 < (P-1)/32 < 2^25, so rho ∈ [1, 26]


def _hll_rho_col(w: "F.Column") -> "F.Column":
    out = F.lit(HLL_WBITS + 1)
    for r in range(HLL_WBITS, 0, -1):
        out = F.when(w >= (1 << (HLL_WBITS - r)), F.lit(r)).otherwise(out)
    return out


def _hll_pow2neg(col: "F.Column") -> "F.Column":
    out = F.lit(0.0)
    for mj in range(1, HLL_WBITS + 2):
        out = F.when(col == mj, F.lit(float(2.0 ** -mj))).otherwise(out)
    return out


def _hll_registers(ev: DataFrame, *keys: str) -> DataFrame:
    """(*keys, reg, rho) per event: the event_id's affine hash h lands in
    register h % HLL_M with rho = the leading-zero run of h div HLL_M."""
    hashed = ev.select(*keys, _affine_hash(F.col("event_id"), KMV_A, KMV_B).alias("h"))
    return hashed.select(
        *keys,
        (F.col("h") % HLL_M).alias("reg"),
        _hll_rho_col(F.expr(f"h div {HLL_M}")).alias("rho"),
    )


def _hll_estimate(regs: DataFrame, name: str) -> DataFrame:
    """(event_type, name): the estimate alpha·m² / Σ_j 2^-M_j folded from
    the present (event_type, reg, mj) registers — each absent register
    adds 2^0."""
    folded = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(_hll_pow2neg(F.col("mj"))).alias("z_present"),
    )
    return folded.select(
        "event_type",
        F.round(
            F.lit(float(HLL_ALPHA_M2))
            / ((F.lit(HLL_M) - F.col("n_present")).cast("double") + F.col("z_present")),
            4,
        ).alias(name),
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct event_ids per event_type NEXT TO the exact
    count — the measured-error discipline of sketch_distinct_error /
    sketch_cms_error.  Plan: one pass hashes ids into (register, rho)
    pairs, one groupBy over ≤ m·|groups| cells takes max(rho), and the
    per-group estimate folds the m registers — O(m) state per group at
    any N, merge = max() per register (mergeable by construction)."""
    ev = _t(spark, sf_dir, "events")
    hashed = track_persist(_hll_registers(ev, "event_type", "event_id"))
    regs = hashed.groupBy("event_type", "reg").agg(F.max("rho").alias("mj"))
    est = _hll_estimate(regs, "hll_estimate")
    exact = hashed.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("exact_distinct")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


OUTLIER_K = 3        # the classic k·MAD robust outlier rule
OUTLIER_SCALE = 1_000_000  # exact integer per-million outlier share


def ev_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gauge: per event_type, the EXACT median and MAD
    (median absolute deviation) of value, and the count beyond the
    classic 3·MAD fence — the data-quality screen that, unlike
    mean/stddev, a few corrupt rows cannot drag.

    Scale shape — exact ORDER STATISTICS with no per-group bottleneck:
    a per-group rank would be Window.partitionBy(event_type), which
    funnels each (possibly enormous) group through ONE task; instead
    the global-rank primitive runs over the (event_type, v, event_id)
    total order and per-group ranks fall out by subtracting broadcast
    per-group count offsets (the doc_sample_mixture trick applied to
    selection).  Two such passes (median, then MAD over |v − med|), one
    bounded groupBy.  Determinism: median/MAD are SELECTED values (no
    arithmetic), |v − med| and the 3·MAD compare are single exact IEEE
    ops, and the outlier share is an integer per-million — no
    round-after-division surface."""
    from ..functions.ranking import with_global_rank

    ev = _t(spark, sf_dir, "events")
    base = track_persist(
        ev.select("event_id", "event_type", F.col("value").cast("double").alias("v"))
    )
    cnt = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, -1)
    offs = track_persist(
        cnt.withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)))
    )

    def _kth(df: DataFrame, col: str, out: str) -> DataFrame:
        g = with_global_rank(
            df, [F.col("event_type"), F.col(col), F.col("event_id")], "_gr"
        )
        return (
            g.join(F.broadcast(offs), "event_type")
            .where(F.col("_gr") - F.col("off") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = _kth(base, "v", "med")
    dev = track_persist(
        base.join(F.broadcast(med), "event_type").withColumn(
            "ad", F.abs(F.col("v") - F.col("med"))
        )
    )
    mad = _kth(dev, "ad", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med"),  # constant per group
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("ad") > F.lit(float(OUTLIER_K)) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "med",
            "mad",
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
            F.expr(f"(n_outliers * {OUTLIER_SCALE}) div n")
            .cast("bigint")
            .alias("outlier_ppm"),
        )
    )


Z_U_BITS = 8    # user dimension bits (user_id % 256)
Z_D_BITS = 5    # day dimension bits (epoch_day % 32 — the corpus spans 30 days)
Z_BUCKETS = 64  # equal-count layout buckets (files/row-groups stand-in)


def _z_expr(idiv: str, u: str = "u", d: str = "d") -> str:
    """Morton/Z-value as a pure intdiv/mod/multiply expression — the
    same formula in both engines modulo the integer-division spelling
    (Spark `div`, DuckDB `//`); u gets the odd bit positions."""
    terms = [
        f"(({u} {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(Z_U_BITS)
    ] + [
        f"(({d} {idiv} {1 << j}) % 2) * {1 << (2 * j)}" for j in range(Z_D_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def ev_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER DATA LAYOUT — the storage-clustering lever (Delta/Iceberg
    OPTIMIZE ZORDER): rows sorted by the Morton interleave of
    (user bucket, day) land in files whose min/max spans are narrow on
    BOTH dimensions, so per-file statistics prune scans for user- AND
    time-predicates at once; a row-id (arrival-order) layout prunes
    only time.  Emitted as the measurable locality gauge: for each of
    Z_BUCKETS equal-count buckets under BOTH layouts, the bucket's
    (u_span, d_span) — z-order shows bounded spans on both axes, the
    row-order baseline a full-width u_span.

    Scale shape: the equal-count bucketing is the distributed global
    rank (functions/ranking.with_global_rank — range partition +
    partitioned window + broadcast offsets, no single-partition window;
    exactly the shuffle OPTIMIZE ZORDER performs), then one bounded
    groupBy(layout, bucket) ≤ 2·Z_BUCKETS rows.  All arithmetic is
    exact integer div/mod, identical in DuckDB."""
    from ..functions.ranking import with_global_rank

    ev = _t(spark, sf_dir, "events")
    epoch_day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    # REBASE days to the corpus minimum before masking: a raw
    # epoch_day % 32 wraps mid-corpus whenever the date range crosses a
    # mod-32 boundary, gluing the month's two ends into the same d value
    # — the gauge would then report bounded wrapped-d spans over a layout
    # with NO real date locality (the vacuous-gauge trap; caught by the
    # round-7 review on the sf0.01 corpus, epoch days 19723-19752).
    min_day = ev.agg(F.min(epoch_day)).collect()[0][0]  # bounded scalar
    base = track_persist(
        ev.select(
            "event_id",
            (F.col("user_id") % (1 << Z_U_BITS)).alias("u"),
            ((epoch_day - F.lit(int(min_day))) % (1 << Z_D_BITS)).alias("d"),
        ).withColumn("zval", F.expr(_z_expr("div")))
    )
    n = base.count()  # bounded driver scalar (the bucket-width constant)
    width = -(-n // Z_BUCKETS)

    def _spans(ranked: DataFrame, layout: str) -> DataFrame:
        return (
            ranked.withColumn("bucket", F.expr(f"(rk - 1) div {width}"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.max("u") - F.min("u")).alias("u_span"),
                (F.max("d") - F.min("d")).alias("d_span"),
            )
            .select(
                F.lit(layout).alias("layout"),
                F.col("bucket").cast("bigint").alias("bucket"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("u_span").cast("bigint").alias("u_span"),
                F.col("d_span").cast("bigint").alias("d_span"),
            )
        )

    zr = with_global_rank(base, [F.col("zval"), F.col("event_id")], "rk")
    rr = with_global_rank(base, [F.col("event_id")], "rk")
    return _spans(zr, "zorder").unionByName(_spans(rr, "rowid"))


def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY proof — the property that makes the sketch a
    100 TB operator: per-DAY partial sketches (the shape per-partition /
    per-shard / per-hour rollups produce) merged by a register-wise MAX
    must yield EXACTLY the direct one-pass sketch, because max is
    associative over the m-register grid.  Emitted as (direct estimate,
    merged estimate, merge_exact) per group — merge_exact true is the
    structural proof cell (the bloom (true,false)-cell precedent), and
    it holds bit-for-bit, not approximately: identical registers ⇒
    identical float fold (whose sum is order-independent because every
    partial is representable — the HLL design rule).

    Plan: one hash pass, one groupBy(type, day, reg) for the partials
    (≤ m·|days|·|types| cells), one groupBy(type, reg) max-merge, and
    the same bounded folds as sketch_hll_distinct — partials combine in
    O(m) per group without re-reading data."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    hashed = track_persist(_hll_registers(ev, "event_type", "day"))
    daily = hashed.groupBy("event_type", "day", "reg").agg(
        F.max("rho").alias("mj")
    )
    merged = daily.groupBy("event_type", "reg").agg(F.max("mj").alias("mj"))
    direct = hashed.groupBy("event_type", "reg").agg(F.max("rho").alias("mj"))
    nd = hashed.groupBy("event_type").agg(
        F.countDistinct("day").alias("n_days")
    )
    return (
        nd.join(_hll_estimate(direct, "hll_direct"), "event_type")
        .join(_hll_estimate(merged, "hll_merged"), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            "hll_direct",
            "hll_merged",
            (F.col("hll_direct") == F.col("hll_merged")).alias("merge_exact"),
        )
    )


# Bloom-filter semi-join — the JOIN sibling of the sketches: a selective
# dimension-side key set compressed to M bits prunes a fact-side scan
# before the real join (Spark AQE's runtime bloom filter, made explicit
# and measurable).  At 100 TB the urgent-order key set is far too big to
# broadcast exactly, but its M-bit bloom image broadcasts at O(1) size
# and filters map-side with NO false negatives — the classic shuffle-
# elimination trade.

BLOOM_M = 8192   # bits PER HASH PLANE (the partitioned-bloom variant:
                 # position keys are (d, pos), so each of the K hashes
                 # owns its own M-bit plane) — deliberately tight (CMS_W
                 # precedent) so the sf0.01 gate scale exercises real
                 # collisions (measured fpr ≈ 0.007 at per-plane load
                 # 0.364) instead of vacuously reporting zero; production
                 # sizes M ≈ 1.44·|S|·log2(1/fpr)/K per plane, still
                 # O(|S|) bits not rows
BLOOM_K = 3      # hash planes (reuses the CMS affine family)


def sketch_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join gauge: lineitem rows probed against the bloom
    image of the 1-URGENT orderkey set, reported as the exact 2×2
    confusion matrix over (is_member, bloom_pass) with row coverage.
    The (true, false) cell is STRUCTURALLY empty — a member's K
    positions are all set by construction — so its absence in the gated
    result is the no-false-negative proof; the (false, true) cell is the
    measured false-positive cost the M-bit budget buys.

    Plan shape: the member side reduces to ≤ K·M distinct (hash, bit)
    rows (broadcast — O(M) regardless of |S|); the probe side reduces to
    one row per distinct orderkey BEFORE probing, posexplodes its K
    positions, and left-joins the broadcast bit set — no shuffle of the
    fact table, no row explosion beyond the constant K."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # persisted: consumed twice (bit-set build + the is_member flag join)
    # — without it the 1-URGENT filter scan of orders runs twice
    members = track_persist(
        orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_orderkey").alias("okey")
        )
    )
    pos = _hash_positions(F.col("okey"), BLOOM_K, BLOOM_M).alias("d", "pos")
    bits = (
        members.select(pos)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    probed = probe.select("okey", "n_rows", pos)
    passed = (
        probed.join(F.broadcast(bits), ["d", "pos"], "left")
        .groupBy("okey", "n_rows")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == BLOOM_K).alias("bloom_pass"))
    )
    flagged = passed.join(
        F.broadcast(members.withColumn("is_m", F.lit(True))), "okey", "left"
    ).withColumn("is_member", F.coalesce(F.col("is_m"), F.lit(False)))
    return flagged.groupBy("is_member", "bloom_pass").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orderkeys"),
        F.sum("n_rows").cast("bigint").alias("n_lineitem_rows"),
    )


def ev_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (day, type) → (day) → grand total in one pass."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"))
        .rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
    )


def ev_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series DENSIFICATION: the per-(type, hour) rollup re-sampled
    onto the complete hourly grid — empty hours materialised with
    n_events = 0 and the hourly value SUM carried forward from the last
    observed hour (LOCF, the standard gap-fill for dashboards and
    feature windows; hours before a type's first observation stay null
    in both engines).

    Scale shape: the grid is |types| × hours — TIME-bounded, not
    data-bounded (a century of hours × 1000 types is under 10⁹ rows
    regardless of event volume), generated by one sequence() explode
    from a broadcast 1-row min/max frame; the event side reduces to the
    same bounded cell count BEFORE the left join, and the LOCF pass is
    one window over the grid partitioned by type."""
    ev = _t(spark, sf_dir, "events")
    # the carried metric is the ROUNDED HOURLY SUM (the repo's proven
    # round-at-the-boundary pattern) — a mean would divide before
    # rounding and land on repr-tie boundaries where Spark (shortest-
    # repr HALF_UP) and DuckDB (binary-value rounding) disagree in the
    # last digit (hit at sf0.1: 47.25375-as-47.253749999…)
    agg = track_persist(
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_v"),
        )
    )
    # ONE corpus scan: the time range and the type list both derive from
    # the bounded agg frame (hour-trunc is monotonic, so min/max agree
    # with min/max over raw ts; agg's types are exactly the types present)
    rng = agg.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = (
        agg.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    j = grid.join(agg, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("sum_v", ignorenulls=True).over(w).alias("locf_sum_value"),
    )


PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def ev_pivot_day_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-day event counts spread across one column per type —
    the wide-format reporting shape.  The value list is EXPLICIT
    (PIVOT_TYPES), which keeps the plan a single aggregation pass
    (Spark's pivot without values runs an extra distinct job to discover
    them — a full extra scan at 100 TB) and the output schema stable.
    Missing cells coalesce to 0 to match the conditional-aggregation
    oracle."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    wide = (
        ev.withColumn("day", day)
        .groupBy("day")
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in PIVOT_TYPES
        ],
    )


def ev_cube_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all four grouping sets of (day, event_type) in
    one pass — the rollup's lattice-complete sibling (ev_rollup_daily
    covers the hierarchical sets; CUBE adds the type-only marginals).
    Spark expands grouping sets inside a single shuffle stage; null
    grouping keys mark the aggregated dimensions in both engines."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        ev.withColumn("day", day)
        .cube("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def ev_clickers_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: users who clicked EXCEPT users who purchased, plus the
    INTERSECT count as a second column block (one row per such user)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.exceptAll(purchasers).select("user_id")


def ev_click_and_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set INTERSECTION shape: users who both clicked and purchased (the
    semi-join twin of ev_clickers_never_purchased's anti-join)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.intersect(purchasers)


def ev_running_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate per user in stable (ts, event_id) order; returns
    each user's final running max and the ts where it was first reached."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = ev.withColumn("run_max", F.max("value").over(w))
    peak = run.where(F.col("value") == F.col("run_max"))
    return peak.groupBy("user_id").agg(
        F.round(F.max("value"), 6).alias("peak_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_peak_ts"),
    )


RANGE_JOIN_WINDOW_US = 300_000_000  # 5-minute follow window


def ev_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (an operator Spark lacks natively): each purchase is
    attributed to the most recent click (click.ts <= purchase.ts) by the
    same user.

    Spark-first plan: instead of the naive theta-join + row_number (which
    explodes to all (purchase, earlier-click) pairs before pruning), both
    sides are UNIONED with a side tag and merged by ONE window pass —
    ``last(click_payload, ignorenulls=True)`` over
    (user_id ORDER BY ts, side) carries the latest click forward to every
    purchase.  Cost: one shuffle on user_id + a per-user sort; zero pair
    blow-up, so a user with C clicks and P purchases costs O(C+P) not
    O(C*P).  At 10^12-event scale this is the merge-join shape an ASOF
    needs; clicks are deduped to one per (user_id, ts) first so the
    result is deterministic under timestamp ties (DuckDB's ASOF picks an
    arbitrary row among equal keys otherwise)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
            us.alias("click_us"),
            F.lit(None).cast("bigint").alias("purchase_id"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("bigint").alias("click_us"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        clicks.unionByName(purchases)
        .withColumn("asof_click_id", F.last("click_id", ignorenulls=True).over(w))
        .withColumn("asof_click_value", F.last("click_value", ignorenulls=True).over(w))
        .withColumn("asof_click_us", F.last("click_us", ignorenulls=True).over(w))
    )
    return merged.where(F.col("side") == 1).select(
        "purchase_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.col("asof_click_id").alias("click_id"),
        (us - F.col("asof_click_us")).cast("bigint").alias("gap_us"),
        F.round("asof_click_value", 6).alias("click_value"),
    )


def ev_range_join_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval) JOIN via time-bucketing: for every click, the
    events of the same user in the next 5 minutes, rolled up per
    follower type.

    Spark-first plan: a raw theta-join (r.ts BETWEEN l.ts AND l.ts+W)
    degenerates to a per-user cartesian under Spark's BNL join.  Instead
    both sides get an equi-joinable bucket key ``us div W``: a follower
    lands in exactly one bucket, a click probes its own bucket and the
    next one (explode of 2), so every qualifying pair is produced exactly
    once by the shuffled-hash/sort-merge equi-join on (user_id, bucket)
    and then exact-filtered.  Fan-out is a constant 2x regardless of data
    size — the standard scalable interval-join rewrite."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    W = RANGE_JOIN_WINDOW_US
    base = ev.select("event_id", "user_id", "event_type", us.alias("us"))
    left = (
        base.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("l_user"),
            F.col("us").alias("l_us"),
        )
        .withColumn(
            "l_bucket",
            F.explode(F.array(F.expr(f"l_us div {W}"), F.expr(f"l_us div {W} + 1"))),
        )
    )
    right = base.withColumn("bucket", F.expr(f"us div {W}"))
    pairs = left.join(
        right,
        (F.col("l_user") == F.col("user_id"))
        & (F.col("l_bucket") == F.col("bucket"))
        & (F.col("us") > F.col("l_us"))
        & (F.col("us") <= F.col("l_us") + F.lit(W)),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks"),
        F.countDistinct("event_id").alias("n_followers"),
    )


def ev_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — the sequence-mining signal behind next-action prediction
    and anomaly scoring (which transitions are common, which never
    happen).  One lag() window pass in stable (ts, event_id) order (one
    shuffle on user_id), then two bounded groupBys: the matrix is at
    most |types|² rows at ANY event volume, and the row-conditional
    probability is a single double division (deterministic IEEE, same
    literal order both engines)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNotNull()
    )
    counts = lagged.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p_transition"),
    )


def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, and
    for each (cohort, day-offset) cell the count and fraction of the
    cohort active that day — the canonical product-analytics rollup.
    Two groupBys keyed by user then (cohort, offset): per-user state is
    one MIN, the grid is bounded by days², and the corpus is scanned
    once (the distinct day-activity frame feeds both the cohort
    assignment and the grid)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    e = track_persist(e)
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    grid = (
        e.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(
                F.col("day").cast("date"), F.col("cohort_day").cast("date")
            ).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = first.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    return grid.join(sizes, "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )


FUNNEL_WINDOW_US = 3_600_000_000  # 1-hour conversion window


def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence FUNNEL: users who clicked, and of those, users
    whose first purchase AFTER their first click lands within 1 hour —
    the classic product-analytics conversion shape (sequence matching
    with an ordering + deadline constraint, which plain joins don't
    express).

    Spark-first plan: per-user min() aggregations only — first click,
    then first purchase at-or-after it (the clicks frame re-joins the
    purchase stream on user_id; both aggregations are map-side
    combinable) — no window sort, no pair blow-up, O(|users|) state at
    any event volume.  Emits one row per funnel stage with the surviving
    user count and the mean conversion latency (exact: bigint
    microsecond sums, divided once)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select("user_id", "event_type", us.alias("us"))
    clicks = e.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("us").alias("first_click")
    )
    conv = (
        e.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("us") >= F.col("first_click"))
        .groupBy("user_id", "first_click")
        .agg(F.min("us").alias("first_purchase"))
        .withColumn("lat_us", F.col("first_purchase") - F.col("first_click"))
    )

    def _stage(df, name):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("lat_us").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_latency_us"),
        )

    stage1 = clicks.agg(
        F.lit("1_clicked").alias("stage"),
        F.count(F.lit(1)).alias("n_users"),
        F.lit(None).cast("double").alias("mean_latency_us"),
    )
    stage2 = _stage(conv, "2_purchased_after_click")
    stage3 = _stage(
        conv.where(F.col("lat_us") <= FUNNEL_WINDOW_US), "3_converted_within_1h"
    )
    return stage1.unionByName(stage2).unionByName(stage3)
