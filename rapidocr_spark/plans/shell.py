"""Query registry: every implemented operator exposed as a (spark, sf_dir)
callable plus, where SQL-expressible, an exactly-equivalent DuckDB oracle.

Column names, rounding, and arithmetic orders are deliberately identical
between the Spark plans and the SQL strings: money runs in DECIMAL, hashes
are the engine's own polynomial hash, float folds are left-folds in both
engines, and doubles are rounded before they cross the boundary.
Timestamps are rendered to strings in UTC in both engines to dodge
timezone-normalisation differences.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..functions import dedup, graph, multimodal, similarity, text
from ..functions.caching import release_tracked, track_persist
from ..functions.dedup import (
    JACCARD_MIN, MAX_BAND_DF, MAX_SHINGLE_DF, MINHASH_AB, SIMHASH_BITS,
)
from ..functions.similarity import (
    CENT_SCALE, DEDUP_TABLES, DIM, K_MAX_CENTROIDS, K_MIN_CENTROIDS,
    LLOYD_ITERS, LSH_PLANES, MAX_PLANES, MAX_QUERIES, MIN_PLANES, NPROBE_L8,
    QUERY_MOD, TOP_K,
)
from ..operators.extract import (
    assemble_conversations, extract_transcripts, extract_transcripts_multilang,
)
from ..plans import events, relational

EXTRACT_CFG = DEFAULT_CONFIG.replace(det_limit_side_len=32)

# the per-turn columns gated against the expected-turns fixture
_TURN_COLS = (
    "conv_id", "turn_idx", "kind", "skip_det",
    "extracted_text", "n_boxes", "n_chars", "error",
)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)

# text.poly_hash's fold from 0: its first step (0·31 + c) % P is the
# first codepoint c itself (c < P), so the reduce starts there.  Unseeded,
# NULL text hashes to NULL as in Spark (a seed would make it 0), and
# string_split never returns an empty list ('' splits to [''], hash 0).
_POLY = (
    "list_reduce([CAST(ascii(x) AS BIGINT) for x in string_split({col}, '')], "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

def _shingles_cte(src: str = "documents") -> str:
    return f"""
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') t FROM {src}),
sh_str AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+3], ' ')
                               for i in range(1, len(t) - 2)])) AS shingle_s
  FROM toks WHERE len(t) >= 4
),
sh0 AS (SELECT doc_id, {_POLY.format(col='shingle_s')} AS shingle FROM sh_str)
"""


_SHINGLES_CTE = _shingles_cte()

_SIG_BODY = f""",
h AS (SELECT doc_id, shingle AS h FROM sh0),
sig AS (
  SELECT doc_id,
         {", ".join(f"CAST(MIN(({a} * h + {b}) % 1000000007) AS BIGINT) AS mh{i}" for i, (a, b) in enumerate(MINHASH_AB))}
  FROM h GROUP BY doc_id
)
"""

_SIG_SQL = "WITH " + _SHINGLES_CTE + _SIG_BODY

# exact-dup collapse ahead of MinHash/LSH (VERDICT r03 item 1): signatures
# over canonical representatives only; copies re-attach as star edges
_CANON_CTE = """
canon AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
          FROM documents),
reps AS (SELECT d.* FROM documents d JOIN canon c ON d.doc_id = c.doc_id
         WHERE c.doc_id = c.canonical_id)
"""

_SIG_SQL_REPS = "WITH " + _CANON_CTE + "," + _shingles_cte("reps") + _SIG_BODY


def _fold_dot(a_expr: str, b_expr: str, n: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, [CAST({a_expr} AS DOUBLE) * CAST({b_expr} AS DOUBLE) "
        f"for i in range(1, {n + 1})]), (acc, v) -> acc + v)"
    )


_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) "
    "for x in {col}]), (acc, v) -> acc + v))"
)

_PLAIN_EXPR = (
    "array_to_string(list_filter(list_transform(string_split({col}, chr(10)), "
    "x -> trim(x)), x -> x <> ''), chr(10))"
)


# ---------------------------------------------------------------------------
# extraction queries over synthetic transcripts.  The det→cls→rec chain has
# no SQL equivalent, so the oracle is the reference's own gate style
# (python/tests/test_all_ort.py:22-27: precomputed exact expectations): the
# Spark side recomputes the extraction LIVE through the distributed
# operator, the DuckDB side reads the committed expected-result fixture
# parquet produced by the eager oracle kernel (sources/fixtures.py).
# The corpus is pinned to N_FIXTURE_CONVS so the oracle holds at every sf
# (corpus-size scaling is benchmarked separately in bench.py).

def _default_fixtures_dir() -> str:
    d = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "fixtures",
    )
    # zipimport guard (spark-submit --py-files engine.zip): __file__ then
    # points inside the archive and read_parquet would fail — require the
    # env override in that deployment (ADVICE r02 item 4)
    env = os.environ.get("RAPIDOCR_FIXTURES_DIR")
    if env:
        return env
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"fixtures dir {d!r} not found (package imported from an "
            "archive?) — set RAPIDOCR_FIXTURES_DIR to the extracted "
            "fixtures/ directory"
        )
    return d


_FIXTURES_DIR = _default_fixtures_dir()

# deferred scratch-dir cleanup (ADVICE r03 item 4): builders that must
# return a LAZY frame over their scratch output (x_extract_checkpointed)
# register the dir here; it is removed when the NEXT query builds (the
# same deferred discipline as release_tracked) and at interpreter exit.
_SCRATCH_DIRS: list[str] = []


def _release_scratch() -> None:
    import shutil

    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_release_scratch)


def x_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship det→cls→rec extraction over the fixture transcript
    corpus — per-turn kind/route/extracted text/box+char counts against
    the committed eager-oracle fixture."""
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    # persist: the plain/heavy routes are two branches of one union — a
    # parquet source would be two pruned scans, but the synthetic generator
    # would otherwise render every conversation twice
    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    return extract_transcripts(df, EXTRACT_CFG).select(*_TURN_COLS)


def x_extract_onnx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 chain-real (VERDICT r05 item 1): the SAME flagship extraction,
    but det+cls+rec inference all run from PARSED ONNX MODEL BYTES — the
    three-role model set is serialized driver-side (kernels/onnx_models.py,
    genuine protobuf wire format), shipped to executors via a Spark
    broadcast (the reference's three-model config.yaml layout,
    session contracts text_cls.py:56-61 / text_recognize.py:63-68, charset
    from rec-model metadata per utils.py:72-79), parsed once per executor,
    and executed per crop by the in-repo numpy ONNX executor.  Gated
    against the SAME expected-turns fixture as x_extract_turns — the
    serialized chain must be bit-identical to the synthetic kernels."""
    from ..kernels.onnx_models import build_default_model_set
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    cfg = EXTRACT_CFG.replace(backend="onnx_mini")
    out = extract_transcripts(df, cfg, model_bytes=build_default_model_set())
    return out.select(*_TURN_COLS)


def x_assemble_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 conversation assembly: per-turn extractions re-grouped in stable
    (conv_id, turn_idx) order and joined by blank lines — one shuffle on
    conv_id, gated against the conversation-level fixture."""
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    return assemble_conversations(extract_transcripts(df, EXTRACT_CFG))


def x_extract_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 per-language model-registry binding through the driver gate:
    even conversations run the default config, odd ones a 'zh' config with
    use_cls=False (rotated bitmaps stay uncorrected under that binding — a
    real behavioural difference pinned by the fixture oracle).  Both
    bindings resolve per row inside the one fused extraction stage, so the
    plan is the single-config plan plus a ``lang`` column."""
    from ..sources.fixtures import N_FIXTURE_CONVS, multilang_configs
    from ..sources.transcripts import transcripts_df

    df = transcripts_df(spark, N_FIXTURE_CONVS).withColumn(
        "lang",
        F.when(
            F.substring(F.col("conv_id"), 5, 6).cast("int") % 2 == 0, F.lit("en")
        ).otherwise(F.lit("zh")),
    )
    df = track_persist(df)
    out = extract_transcripts_multilang(df, multilang_configs(EXTRACT_CFG))
    return out.select(
        "conv_id", "turn_idx", "lang", "kind",
        "extracted_text", "n_boxes", "n_chars", "error",
    )


def _committed_turns(spark: SparkSession, path: str) -> DataFrame:
    """A committed extraction table read back as _TURN_COLS, its integer
    columns cast to int like the fixture's."""
    ints = ("turn_idx", "n_boxes", "n_chars")
    return spark.read.parquet(path).select(
        *[F.col(c).cast("int").alias(c) if c in ints else c for c in _TURN_COLS]
    )


def x_extract_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE delivery through the driver gate: the fixture corpus
    runs through the checkpointed bucketed sink TWICE into a fresh temp
    table — the second run must anti-join to a resume NO-OP (asserted:
    0 new turns) — and the committed table is read back and value-gated
    against the SAME expected-turns fixture as x_extract_turns.  A resume
    bug in either direction (duplicate appends or dropped turns) breaks
    the row-count/hash match; a broken anti-join raises here."""
    import tempfile

    from ..io.checkpoint import run_extraction
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    out = tempfile.mkdtemp(prefix="rapidocr_ckpt_gate_")
    _SCRATCH_DIRS.append(out)  # removed when the next query builds
    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    run_extraction(spark, df, out, EXTRACT_CFG)
    m2 = run_extraction(spark, df, out, EXTRACT_CFG)  # must be a no-op
    if m2["turns"] != 0 or not m2["resumed"]:
        raise RuntimeError(f"checkpoint resume was not a no-op: {m2}")
    return _committed_turns(spark, out)


_ST_COUNTER = [0]

# state stores per stateful operator in the gated streaming runs — small on
# purpose (gate result sets are tiny); a production deployment sizes this to
# its state volume instead (state is hash-partitioned on the grouping keys,
# so the shape scales by raising the count, not by changing the plan)
ST_GATE_SHUFFLE_PARTITIONS = 4


def _run_gated_stream(
    spark: SparkSession, sf_dir: str, build, prefix: str, n_streams: int = 1
) -> DataFrame:
    """Run one streaming operator to completion for the driver gate and
    return its full result as a (small, materialised) DataFrame.

    SINGLE-BATCH CONTRACT (ADVICE r03 item 1): the st_* oracles are plain
    batch SQL with no late-drop concept, so they are exact only when the
    whole input lands in ONE micro-batch — across batches the watermark
    advances and rows behind it are dropped (window counts short,
    dropDuplicates keys lost).  read_event_stream's default
    maxFilesPerTrigger=16 honours that only for few-file sources, so the
    gated path counts the source's files and raises the cap to cover all
    of them, guaranteeing one batch for ANY directory layout.  (The
    operators themselves remain multi-batch-correct streaming operators —
    it is the equality-vs-batch-SQL *gate* that requires this regime.)

    Cleanup (ADVICE r03 item 4): the memory-sink temp view and the
    checkpoint/symlink temp dirs are dropped before returning — repeated
    gate/bench invocations no longer accumulate driver memory or disk.
    """
    import shutil
    import tempfile
    import uuid

    from ..streaming.events import read_event_stream

    _ST_COUNTER[0] += 1
    name = f"{prefix}_{_ST_COUNTER[0]}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"rapidocr_{name}_ckpt_")
    # the file stream source watches a DIRECTORY; the testdata table is a
    # single parquet file — expose it through a symlinked temp dir
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    tmp_in = None
    if os.path.isdir(src):
        in_dir = src
        # recursive walk (ADVICE r04 item 3): a partitioned/nested layout
        # keeps its part files in subdirectories — a top-level-only count
        # would see 0 and silently fall back to the 16-file cap, breaking
        # the single-batch regime for >16-file sources
        n_files = sum(
            1
            for _root, _dirs, files in os.walk(src)
            for f in files
            if f.endswith(".parquet") or f.endswith(".pq")
        )
    else:
        in_dir = tmp_in = tempfile.mkdtemp(prefix=f"rapidocr_{name}_in_")
        os.symlink(src, os.path.join(in_dir, "events.parquet"))
        n_files = 1
    stream = build(
        *[
            read_event_stream(spark, in_dir, max_files=max(16, n_files))
            for _ in range(n_streams)
        ]
    )
    # Stateful streaming allocates ONE state store (RocksDB/HDFS-backed
    # provider + task) PER shuffle partition per stateful operator, fixed at
    # the query's first run — the session default (bench: 32, clusters: 200+)
    # is pure constant overhead for gate-scale state (VERDICT r05 item 5:
    # st_click_purchase_join spent ~15 s spinning 32-partition state stores
    # for a 2k-row demo).  Pin a small count for the gated run only and
    # restore the session default after; values are partitioning-invariant.
    conf = spark.conf
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(ST_GATE_SHUFFLE_PARTITIONS))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(300):
                raise RuntimeError(f"gated stream {name} timed out after 300s")
        finally:
            q.stop()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev_parts)
    sink = spark.table(name)
    # materialise (gate/bench result sets are small by construction), then
    # release the memory sink and scratch dirs
    rows, schema = sink.collect(), sink.schema
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    if tmp_in:
        shutil.rmtree(tmp_in, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def st_windowed_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING through the driver gate: the watermarked
    tumbling-window rollup (streaming/events.py) runs to completion with
    Trigger.AvailableNow over the events parquet into a memory sink, and
    the result is returned as a DataFrame with an EXACT DuckDB oracle —
    append mode emits precisely the windows whose end ≤ max(ts) − the
    30-minute watermark (the batch-computable closed set, the same
    contract tests/test_streaming_events.py pins).  Stream–batch
    equivalence is thereby driver-gated, not just pytest-gated.

    The streaming job executes at build time (a streaming query cannot be
    returned lazily); state is bounded by watermark horizon × |type|.
    Single-batch gate regime: see _run_gated_stream."""
    from ..streaming.events import windowed_type_counts

    out = _run_gated_stream(spark, sf_dir, windowed_type_counts, "st_win")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def st_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL streaming operator through the driver gate:
    applyInPandasWithState gap-sessionization (streaming/events.py) runs
    to completion with Trigger.AvailableNow; the emitted CLOSED sessions
    are exactly every session except each user's open tail — a
    gaps-and-islands SQL shape, so this non-SQL streaming operator gets an
    exact equality oracle too (epoch seconds rounded to the µs precision
    the data actually has).  Single-batch gate regime: see
    _run_gated_stream."""
    from ..streaming.events import sessionize_stream

    out = _run_gated_stream(spark, sf_dir, sessionize_stream, "st_sess")
    return out.select(
        "user_id",
        F.round(F.col("session_start_sec"), 6).alias("session_start_sec"),
        F.round(F.col("session_end_sec"), 6).alias("session_end_sec"),
        F.col("n_events").cast("int").alias("n_events"),
    )


def st_dedup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT DEDUP through the driver gate: watermarked
    dropDuplicates keyed on (user, type, 1-minute event-time window) —
    the at-least-once-upstream collapse — run to completion with
    Trigger.AvailableNow into a memory sink.  The emitted key set equals
    a batch SELECT DISTINCT exactly (only keys are emitted; which
    duplicate row arrives first is nondeterministic, the key set is not);
    state is watermark-evictable because the key embeds the event time.
    Single-batch gate regime: see _run_gated_stream."""
    from ..streaming.events import dedup_stream

    out = _run_gated_stream(spark, sf_dir, dedup_stream, "st_dedup")
    return out.select("window_start", "user_id", "event_type")


def st_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC broadcast enrichment through the driver gate — the
    sixth streaming shape: each streamed event joins its user's STATIC
    profile (per-user event count + cents total, computed in batch from
    the same corpus — the precomputed-feature-table pattern every
    streaming scorer uses) and derives the above-user-average flag in
    pure bigint arithmetic.  A stream-static equi-join is STATELESS (no
    watermark, no state store; static side broadcast per micro-batch),
    so batch ≡ stream holds for ANY batching — this query, like
    st_extract_turns, needs no single-batch crutch; it runs under
    _run_gated_stream for the shared harness/cleanup only."""
    from ..streaming.events import enrich_stream

    profiles = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("user_n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "user_total_cents"
            ),
        )
    )
    out = _run_gated_stream(
        spark, sf_dir, lambda s: enrich_stream(s, profiles), "st_enrich"
    )
    return out.select(
        "event_id", "user_id", "event_type", "value_cents",
        "user_n_events", "user_total_cents", "above_user_avg",
    )


def x_extract_char_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-char confidence surface (the .NET rich-TextBlock variant,
    OcrResult.cs:41-68 / CrnnNet.cs:114-146) through the fixture gate:
    extraction reruns with rec_char_scores=True and every span's
    char_scores array is aggregated per span (count + order-independent
    min/max, rounded at the boundary) against the eager-oracle fixture."""
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    out = extract_transcripts(df, EXTRACT_CFG.replace(rec_char_scores=True))
    sp = out.where(
        F.col("spans").isNotNull() & (F.size("spans") > 0)
    ).select(
        "conv_id", "turn_idx", F.posexplode("spans").alias("span_idx", "span")
    )
    return sp.where(F.col("span.char_scores").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.size("span.char_scores").cast("int").alias("n_chars"),
        F.round(F.array_min("span.char_scores"), 6).alias("min_cs"),
        F.round(F.array_max("span.char_scores"), 6).alias("max_cs"),
    )


def x_extract_most_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 mostAngle batch majority vote through the fixture gate (.NET
    surface, dotnet OcrLib/AngleNet.cs:74-97 / OcrLite.cs:98-104):
    extraction reruns over a MIXED-orientation corpus with
    cls_most_angle=True — the majority angle index overrides every
    per-crop decision, so minority-orientation crops stay (or become)
    upside down and the output provably differs from the per-crop F8
    path (fixture generation asserts the divergence;
    sources/fixtures.py:expected_mostangle_pandas)."""
    from ..sources.fixtures import (
        N_FIXTURE_MOSTANGLE, mostangle_payload, single_turn_df,
    )

    df = track_persist(
        single_turn_df(spark, N_FIXTURE_MOSTANGLE, "ma", mostangle_payload)
    )
    out = extract_transcripts(df, EXTRACT_CFG.replace(cls_most_angle=True))
    return out.select(
        "conv_id", "turn_idx", "extracted_text", "n_boxes", "n_chars", "error"
    )


def x_extract_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-DEFUSING spread through the driver gate (VERDICT r04 item
    5): extraction reruns over the fixture corpus coalesced into ONE input
    partition, and must still value-hash-match x_extract_turns' fixture.
    One partition is the worst input placement (every conversation
    clustered on one task), so the heavy route's (conv_id, turn_idx)
    exchange is what scatters the turns over the cores.  Pins spread ≡
    unspread (per-turn work is partition-independent); the wall-time win
    on a deliberately fat conversation is recorded in CHANGES.md."""
    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS)).coalesce(1)
    return extract_transcripts(df, EXTRACT_CFG).select(*_TURN_COLS)


def x_extract_padded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 MakePadding through the fixture gate (.NET/C++ CLI knob,
    dotnet OcrLib/OcrLite.cs:40-61 / cpp OcrLite.cpp:59-84): extraction
    reruns over a tight-margin corpus with det_padding=12 — the whole
    det→crop chain runs on the padded canvas (near-edge boxes unclip
    without the F9 border truncation) and reported box corners translate
    back by −padding WITHOUT clipping, going negative
    (OcrLite.cpp:172-184).  Fixture generation asserts the knob diverges
    from the unpadded run AND that negative corners occur."""
    from ..sources.fixtures import (
        N_FIXTURE_PADDED, PADDING_GATE, padded_payload, single_turn_df,
    )

    df = track_persist(single_turn_df(spark, N_FIXTURE_PADDED, "pd", padded_payload))
    out = extract_transcripts(df, EXTRACT_CFG.replace(det_padding=PADDING_GATE))
    sp = out.where(F.col("spans").isNotNull() & (F.size("spans") > 0)).select(
        "conv_id", "turn_idx", F.posexplode("spans").alias("span_idx", "span")
    )
    return sp.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("span_idx").cast("int").alias("span_idx"),
        F.round(F.col("span.box")[0][0], 2).alias("x0"),
        F.round(F.col("span.box")[0][1], 2).alias("y0"),
        F.col("span.text").alias("text"),
    )


def st_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXTRACTION through the driver gate — batch ≡ stream for
    the flagship det→cls→rec chain, driver-certified: the fixture corpus
    lands as parquet, is read back as a FILE-SOURCE STREAM
    (streaming/pipeline.py), runs through the SAME fused extraction stage
    (stateless per turn → streaming-legal, no watermark), and commits
    exactly-once to a parquet file sink; the committed table gates
    against the SAME expected-turns fixture as x_extract_turns.

    Unlike the watermarked st_* event gates this needs NO single-batch
    regime — the stage is stateless, so the default maxFilesPerTrigger
    multi-batch execution must (and does) produce identical results."""
    import tempfile

    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df
    from ..streaming.pipeline import read_transcript_stream, start_to_parquet

    base = tempfile.mkdtemp(prefix="rapidocr_stx_")
    _SCRATCH_DIRS.append(base)
    src = os.path.join(base, "in")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    transcripts_df(spark, N_FIXTURE_CONVS).write.mode("overwrite").parquet(src)
    q = start_to_parquet(
        extract_transcripts(read_transcript_stream(spark, src), EXTRACT_CFG), out, ckpt
    )
    try:
        # awaitTermination(timeout) returns False WITHOUT raising on
        # timeout — stopping then would commit a truncated table and
        # surface as an opaque fixture mismatch; fail loudly instead
        if not q.awaitTermination(300):
            raise RuntimeError(
                "st_extract_turns stream did not finish within 300s"
            )
    finally:
        q.stop()
    return _committed_turns(spark, out)


def x_vis_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 visual debug sink through the fixture gate (python/demo.py:16-69
    draw_ocr_box_txt, dotnet OcrUtils.cs:66 DrawTextBoxes): every drawable
    fixture turn renders the side-by-side debug canvas — source image with
    det-box outlines burnt in, blank right panel with span texts
    re-rendered at their box corners — Arrow-batched in Spark, and the
    fixture pins the canvas dims, drawn-box counts, EXACT pixel sums, and
    the PNG sink's encoded byte lengths (kernels/vis.py).

    Scale note: the gate recomputes extraction per turn to stay
    self-contained; a production debug sink draws from ALREADY-extracted
    spans (vis_result(img, spans) is the per-row kernel) — one pass, no
    re-inference, and the sink is a sample anyway (you vis a few thousand
    turns, not 100 TB)."""
    from typing import Iterator

    import pandas as pd

    from ..sources.fixtures import N_FIXTURE_CONVS
    from ..sources.transcripts import transcripts_df

    cfg = EXTRACT_CFG
    schema = (
        "conv_id string, turn_idx int, vis_h int, vis_w int, "
        "n_drawn int, px_sum long, png_len int"
    )
    cols = ["conv_id", "turn_idx", "vis_h", "vis_w", "n_drawn", "px_sum", "png_len"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.vis import vis_turn

        for pdf in batches:
            rows = []
            for cid, tix, txt in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                stats = vis_turn(txt, cfg)
                if stats is None:
                    continue
                rows.append((cid, int(tix), stats["vis_h"], stats["vis_w"],
                             stats["n_drawn"], stats["px_sum"], stats["png_len"]))
            yield pd.DataFrame(rows, columns=cols)

    df = track_persist(transcripts_df(spark, N_FIXTURE_CONVS))
    return df.select("conv_id", "turn_idx", "text").mapInPandas(run, schema=schema)


def st_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join through the gate: two independent
    watermarked event streams joined on (user, purchase within 1h of
    click) — append mode, both state stores watermark-bounded
    (streaming/events.py:interval_join_stream).  In the single-batch gate
    regime every match is emitted, so the oracle is the plain batch
    interval join; keys are unique event_ids + exact integer-µs latency
    (no float/tie concerns)."""
    from ..streaming.events import interval_join_stream

    out = _run_gated_stream(
        spark, sf_dir, interval_join_stream, "st_join", n_streams=2
    )
    return out.select("user_id", "click_id", "purchase_id", "lat_us")


def x_extract_docs_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real extraction operator over documents wrapped as plain:
    payloads — its light route is SQL-expressible, so this one extraction
    query DOES get a DuckDB oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("plain:"), F.col("text")).alias("text"),
        F.lit("").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    out = extract_transcripts(transcripts, EXTRACT_CFG)
    return out.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "extracted_text",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------


def _utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session to UTC inside every queries() callable: the oracles
    render timestamps as UTC strings, and the driver may evaluate callables
    in a session entry() never touched."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # bounded cache lifecycle: the PREVIOUS query's tracked persists
        # are released before this one builds, so a multi-query session
        # (driver gate, bench) holds one query's caches at a time
        release_tracked()
        _release_scratch()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _utc(fn) for name, fn in _registry().items()}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Iteration order is LOAD-BEARING: the driver's correctness gate
    evaluates the FIRST 50 entries, so the engine's signature operators —
    the det→cls→rec extraction chain, the real-codec multimodal gate, the
    streaming shapes, and the measured-recall/confusion quality gauges —
    lead; each round rotates never-gated operators into the window and
    demotes multi-round-green entries to the parity tail (CLAUDE.md
    carries the rotation ledger; tests/test_oracle_parity.py covers the
    tail at two scales every round)."""
    return {
        # extraction engine — the flagship det→cls→rec chain; round 6:
        # x_extract_onnx = the SAME chain run entirely from parsed ONNX
        # model bytes, gated against the same fixture
        "x_extract_turns": x_extract_turns,
        "x_extract_onnx": x_extract_onnx,
        "x_assemble_conversations": x_assemble_conversations,
        "x_extract_docs_plain": x_extract_docs_plain,
        "x_extract_multilang": x_extract_multilang,
        "x_extract_checkpointed": x_extract_checkpointed,
        "x_extract_salted": x_extract_salted,
        "x_extract_most_angle": x_extract_most_angle,
        "x_extract_padded": x_extract_padded,
        "x_extract_char_scores": x_extract_char_scores,
        "x_vis_boxes": x_vis_boxes,
        # multimodal: the real-codec gate (the engine's OWN jpeg/png/gif
        # decoders live on genuine containers) leads; mm_decode_meta /
        # mm_features_stats demoted round 7 after 4 green rounds each
        # (decode_real subsumes their decode path end-to-end)
        "mm_decode_real": multimodal.mm_decode_real,
        # structured streaming, driver-gated with exact oracles (all FOUR
        # shapes, incl. the stream-stream interval join)
        "st_windowed_type_counts": st_windowed_type_counts,
        "st_closed_sessions": st_closed_sessions,
        "st_dedup_minute": st_dedup_minute,
        "st_click_purchase_join": st_click_purchase_join,
        # round 5: batch ≡ stream for the flagship extraction chain
        "st_extract_turns": st_extract_turns,
        # the deployable PQ/IVF searches + their measured-recall gauges
        # (recall is measured, not assumed); ann_ivf_cells_lloyd demoted
        # round 7 after 4 greens — ann_ivf_topk_l8 exercises the same
        # Lloyd cell assignment in-window
        "ann_pq_rerank": similarity.ann_pq_rerank,
        "ann_recall_pq_rerank": similarity.ann_recall_pq_rerank,
        "ann_ivfpq_rerank": similarity.ann_ivfpq_rerank,
        "ann_recall_l8": similarity.ann_recall_l8,
        "ann_ivf_topk_l8": similarity.ann_ivf_topk_l8,
        # dedup — round 7 rotation (VERDICT r06 item 1): the classic
        # modalities (exact/jaccard/containment/lsh/components/keep_best/
        # simhash/embedding_cosine, 2-6 green rounds each) demote to the
        # parity tail; the window carries the newer span/boilerplate/
        # semantic/fuzzy modalities, whose machinery (shared postings,
        # df-capped blocks, canonical-rep collapse) covers the same
        # candidate-generation discipline
        "dedup_substring_spans": dedup.dedup_substring_spans,
        "dedup_substring_coverage": dedup.dedup_substring_coverage,
        "dedup_boilerplate_catalog": dedup.dedup_boilerplate_catalog,
        "doc_boilerplate_density": dedup.doc_boilerplate_density,
        "dedup_semantic": similarity.dedup_semantic,
        "dedup_semantic_recall": similarity.dedup_semantic_recall,
        "dedup_fuzzy_prefix": dedup.dedup_fuzzy_prefix,
        "dedup_fuzzy_unicode": dedup.dedup_fuzzy_unicode,
        # sketches with proven/measured error (KMV demoted after 6 greens;
        # the KLL-style quantiles + partitioned bloom + HLL carry the
        # bounded-state discipline in-window)
        "sketch_value_quantiles": events.sketch_value_quantiles,
        "sketch_bloom_semijoin": events.sketch_bloom_semijoin,
        "sketch_hll_distinct": events.sketch_hll_distinct,
        # corpus-prep pipeline: packing (distributed prefix-sum), the
        # winnowing/BPE/LM-score text gates, tf-idf, chunking, single-stage
        # BPE merge LEARNING, the learned NB quality filter + its measured
        # confusion gauge, and domain-mixture sampling
        "doc_pack_shards": text.doc_pack_shards,
        "doc_winnow_min_hash": dedup.doc_winnow_min_hash,
        "doc_bpe_token_stats": text.doc_bpe_token_stats,
        "doc_lm_bigram_score": text.doc_lm_bigram_score,
        "doc_tfidf_top_terms": text.doc_tfidf_top_terms,
        "doc_chunk_spans": text.doc_chunk_spans,
        "doc_bpe_learn_merges": text.doc_bpe_learn_merges,
        "doc_nb_quality_score": text.doc_nb_quality_score,
        "doc_nb_quality_confusion": text.doc_nb_quality_confusion,
        "doc_sample_mixture": text.doc_sample_mixture,
        # sequence/cohort analytics over events (asof/range/funnel demoted
        # after 3-4 greens each; transitions/cohort/gapfill exercise the
        # same event-time window machinery)
        "ev_type_transitions": events.ev_type_transitions,
        "ev_cohort_retention": events.ev_cohort_retention,
        "ev_pivot_day_types": events.ev_pivot_day_types,
        "ev_cube_day_type": events.ev_cube_day_type,
        "ev_hourly_gapfill": events.ev_hourly_gapfill,
        # iterative graph + the TPC-H representative
        "graph_pagerank": graph.graph_pagerank,
        "q1_pricing_summary": relational.q1_pricing_summary,
        # ---- entry 51+: demoted past the 50-entry driver window (still
        # parity-gated in tests/test_oracle_parity.py at two scales per
        # round).  Round-7 demotions first (green-round counts from
        # CORRECTNESS_r01..r06): dedup_exact(6) dedup_ngram_jaccard(6)
        # simhash(6) lsh_candidate_pairs(6) dedup_embedding_cosine(6)
        # sketch_distinct_users(6) dedup_components(5) mm_decode_meta(4)
        # mm_features_stats(4) ann_ivf_cells_lloyd(4)
        # ev_asof_click_attribution(4) ev_range_join_follows(4)
        # dedup_keep_best(3) ev_funnel_conversion(3) dedup_containment(2,
        # shares its shingle/candidate machinery with 6-green jaccard)
        # round-7 additions past the window (r8 window candidates): the
        # distributed re-tokenization under the learned merge table, and
        # the RESIDUAL IVF-PQ rung + its measured-recall gauge (lifts
        # recall vs the non-residual composition at identical budgets:
        # 0.611/0.833/0.587 vs 0.444/0.778/0.571 across the 3 scales)
        "doc_bpe_apply": text.doc_bpe_apply,
        "ann_ivfpq_res_rerank": similarity.ann_ivfpq_res_rerank,
        "ann_recall_ivfpq_res": similarity.ann_recall_ivfpq_res,
        # the curation composition: learned-NB-rate-ordered prefixes
        # under the mixture's √-temperature quotas
        "doc_sample_quality": text.doc_sample_quality,
        # the sixth streaming shape (stream-static broadcast enrichment —
        # stateless, batch ≡ stream for any batching); r8 window candidate
        "st_enriched_events": st_enriched_events,
        # HLL mergeability proof (per-day partials max-merged ≡ direct)
        "sketch_hll_merge": events.sketch_hll_merge,
        # Z-order data-layout gauge (multi-dim locality vs row order)
        "ev_zorder_layout": events.ev_zorder_layout,
        # exact distributed median/MAD robust-outlier gauge
        "ev_value_outliers": events.ev_value_outliers,
        # CMS mergeability proof (per-day counters summed ≡ direct)
        "sketch_cms_merge": events.sketch_cms_merge,
        "ev_asof_click_attribution": events.ev_asof_click_attribution,
        "ev_range_join_follows": events.ev_range_join_follows,
        "ev_funnel_conversion": events.ev_funnel_conversion,
        "mm_decode_meta": multimodal.mm_decode_meta,
        "mm_features_stats": multimodal.mm_features_stats,
        "ann_ivf_cells_lloyd": similarity.ann_ivf_cells_lloyd,
        "dedup_embedding_cosine": similarity.dedup_embedding_cosine,
        "dedup_exact": dedup.dedup_exact,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "dedup_containment": dedup.dedup_containment,
        "lsh_candidate_pairs": dedup.lsh_candidate_pairs,
        "dedup_components": dedup.dedup_components,
        "dedup_keep_best": dedup.dedup_keep_best,
        "simhash": dedup.simhash,
        "sketch_distinct_users": events.sketch_distinct_users,
        # pre-round-7 tail (demotion rationale in git history):
        # knn_brute_cosine — brute cosine correctness stays exercised
        # in-window by ann_recall_l8 / ann_recall_pq_rerank;
        # mm_sample_frames / mm_resize_meta — metadata-only transforms;
        # minhash_signatures — lsh_candidate_pairs recomputes signatures
        "knn_brute_cosine": similarity.knn_brute_cosine,
        "mm_sample_frames": multimodal.mm_sample_frames,
        "minhash_signatures": dedup.minhash_signatures,
        "dedup_recall": similarity.dedup_recall,
        "mm_resize_meta": multimodal.mm_resize_meta,
        "embed_label_stats": similarity.embed_label_stats,
        "doc_token_stats": text.doc_token_stats,
        "doc_quality_score": text.doc_quality_score,
        "doc_lang_guess": text.doc_lang_guess,
        "doc_winnow_fingerprints": dedup.doc_winnow_fingerprints,
        "ev_user_sessions": events.ev_user_sessions,
        "ev_hourly_top_type": events.ev_hourly_top_type,
        "ev_props_sum": events.ev_props_sum,
        "ev_user_value_quartiles": events.ev_user_value_quartiles,
        "ann_lsh_buckets": similarity.ann_lsh_buckets,
        "ann_bucket_sizes": similarity.ann_bucket_sizes,
        "doc_fingerprint": text.doc_fingerprint,
        "ev_type_rollup": events.ev_type_rollup,
        "ev_running_max_value": events.ev_running_max_value,
        "ev_rolling_avg": events.ev_rolling_avg,
        "ev_rank_types": events.ev_rank_types,
        # duplicate ladder rungs (the nprobe=1 pair duplicates the l8
        # rungs' signal — VERDICT r03 item 3) and set-op shapes
        "ann_ivf_topk": similarity.ann_ivf_topk,
        "ann_recall_at_k": similarity.ann_recall_at_k,
        "ann_ivf_cells": similarity.ann_ivf_cells,
        "ann_recall_probe2": similarity.ann_recall_probe2,
        "ann_ivf_topk_probe2": similarity.ann_ivf_topk_probe2,
        "sketch_distinct_error": events.sketch_distinct_error,
        "ev_rollup_daily": events.ev_rollup_daily,
        "ev_clickers_never_purchased": events.ev_clickers_never_purchased,
        "ev_click_and_purchase_users": events.ev_click_and_purchase_users,
        # relational shell (TPC-H shapes; q1 promoted into the window this
        # round as the family's driver-gated representative)
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q5_region_volume": relational.q5_region_volume,
        "q4_order_priority": relational.q4_order_priority,
        "q6_forecast_revenue": relational.q6_forecast_revenue,
        "q10_returned_items": relational.q10_returned_items,
        "q13_customer_distribution": relational.q13_customer_distribution,
        "q14_promo_revenue": relational.q14_promo_revenue,
        "q15_top_supplier": relational.q15_top_supplier,
        "q17_small_quantity_revenue": relational.q17_small_quantity_revenue,
        "q18_large_volume_customers": relational.q18_large_volume_customers,
        "q22_dormant_customers": relational.q22_dormant_customers,
        "q7_nation_trade_volume": relational.q7_nation_trade_volume,
        "q8_market_share": relational.q8_market_share,
        "q9_product_type_profit": relational.q9_product_type_profit,
        "q12_shipping_delay_priority": relational.q12_shipping_delay_priority,
        "q16_supplier_part_counts": relational.q16_supplier_part_counts,
        "q19_disjunctive_revenue": relational.q19_disjunctive_revenue,
        # custom join operators Spark lacks natively (tail: parity-gated)
        "doc_repetition_stats": text.doc_repetition_stats,
        "doc_benchmark_overlap": dedup.doc_benchmark_overlap,
        "doc_split_assign": text.doc_split_assign,
        # product quantisation: the memory-bound ANN rung (8 B/vector)
        "ann_pq_codes": similarity.ann_pq_codes,
        "ann_pq_topk": similarity.ann_pq_topk,
        "ann_recall_pq": similarity.ann_recall_pq,
        "ann_recall_ivfpq": similarity.ann_recall_ivfpq,
        # training-data hygiene (round 4): PII scrub + URL canonicalise
        "doc_pii_scrub": text.doc_pii_scrub,
        "doc_url_normalize": text.doc_url_normalize,
        # round 5: file-system ingest via Spark's binaryFile source —
        # same decode + same fixture oracle as mm_decode_real
        "mm_ingest_binaryfile": multimodal.mm_ingest_binaryfile,
        # round 5: Count-Min frequency sketch (the KMV sibling) with its
        # measured one-sided-error gauge
        "sketch_cms_error": events.sketch_cms_error,
    }


def oracle_sql() -> dict[str, str]:
    dec = "CAST(l_extendedprice AS DECIMAL(18,4))"
    disc = "CAST(l_discount AS DECIMAL(18,4))"
    tax = "CAST(l_tax AS DECIMAL(18,4))"
    qty = "CAST(l_quantity AS DECIMAL(18,4))"
    rev = f"SUM({dec} * (1 - {disc}))"

    sql: dict[str, str] = {}

    sql["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM({qty}) AS DOUBLE), 2) AS sum_qty,
  ROUND(CAST(SUM({dec}) AS DOUBLE), 2) AS sum_base_price,
  ROUND(CAST(SUM({dec} * (1 - {disc})) AS DOUBLE), 2) AS sum_disc_price,
  ROUND(CAST(SUM({dec} * (1 - {disc}) * (1 + {tax})) AS DOUBLE), 2) AS sum_charge,
  ROUND(CAST(SUM({qty}) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM({dec}) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM({disc}) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    sql["q3_shipping_priority"] = f"""
SELECT o_orderkey,
  ROUND(CAST({rev} AS DOUBLE), 2) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
  o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > o_orderdate
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

    sql["q5_region_volume"] = f"""
SELECT n_name, ROUND(CAST({rev} AS DOUBLE), 2) AS revenue
FROM lineitem, orders, customer, supplier, nation, region
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY n_name
"""

    sql["q6_forecast_revenue"] = f"""
SELECT ROUND(CAST(SUM({dec} * {disc}) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""

    sql["q10_returned_items"] = f"""
SELECT c_custkey, c_name,
  ROUND(CAST({rev} AS DOUBLE), 2) AS revenue,
  ROUND(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
  n_name
FROM lineitem, orders, customer, nation
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

    sql["q14_promo_revenue"] = f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN {dec} * (1 - {disc}) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
            / CAST(SUM({dec} * (1 - {disc})) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
"""

    sql["q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""

    sql["q13_customer_distribution"] = """
WITH pc AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist FROM pc GROUP BY c_count
"""

    sql["q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, {rev} AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(CAST(r AS DOUBLE), 2) AS total_revenue
FROM rev, supplier
WHERE l_suppkey = s_suppkey AND r = (SELECT MAX(r) FROM rev)
"""

    sql["q17_small_quantity_revenue"] = f"""
WITH pa AS (
  SELECT l_partkey, AVG(l_quantity) * 0.5 AS half_avg FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM({dec}) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN pa USING (l_partkey)
WHERE l_quantity < half_avg
"""

    sql["q18_large_volume_customers"] = f"""
WITH big AS (
  SELECT l_orderkey, SUM({qty}) AS sum_qty FROM lineitem
  GROUP BY l_orderkey HAVING SUM({qty}) > 150
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       ROUND(CAST(o_totalprice AS DOUBLE), 2) AS totalprice,
       ROUND(CAST(sum_qty AS DOUBLE), 2) AS sum_qty
FROM big, orders, customer
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
"""

    sql["q7_nation_trade_volume"] = f"""
SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS INT) AS l_year,
       ROUND(CAST({rev} AS DOUBLE), 2) AS revenue
FROM lineitem, orders, customer, supplier,
     (SELECT n_nationkey AS s_nkey, n_name AS supp_nation FROM nation) n1,
     (SELECT n_nationkey AS c_nkey, n_name AS cust_nation FROM nation) n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey AND s_nationkey = s_nkey AND c_nationkey = c_nkey
  AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
    OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
GROUP BY supp_nation, cust_nation, year(l_shipdate)
"""

    sql["q8_market_share"] = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  ROUND(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                 THEN {dec} * (1 - {disc}) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      / CAST(SUM({dec} * (1 - {disc})) AS DOUBLE), 6) AS mkt_share
FROM lineitem, part, orders, customer, supplier, nation n1, nation n2, region
WHERE l_partkey = p_partkey AND p_type = 'PROMO'
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY year(o_orderdate)
"""

    sql["q9_product_type_profit"] = f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
       ROUND(CAST({rev} AS DOUBLE), 2) AS sum_profit
FROM lineitem, part, supplier, nation
WHERE l_partkey = p_partkey AND p_name LIKE '%bolt%'
  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
GROUP BY n_name, year(l_shipdate)
"""

    sql["q12_shipping_delay_priority"] = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
            THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
    AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
GROUP BY 1
"""

    sql["q16_supplier_part_counts"] = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

    sql["q19_disjunctive_revenue"] = f"""
SELECT ROUND(CAST({rev} AS DOUBLE), 2) AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey AND (
     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
  OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40))
"""

    sql["q22_dormant_customers"] = """
SELECT CAST(c_nationkey % 5 AS INT) AS cntry_grp, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY 1
"""

    # streaming twin: append mode emits exactly the windows whose end is
    # ≤ max(ts) − the 30-minute watermark — SQL-expressible, so the
    # streaming operator gets a hard equality oracle
    sql["st_windowed_type_counts"] = """
WITH mx AS (SELECT MAX(ts) AS m FROM events),
w AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, n_events, sum_value
FROM w, mx WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 30 MINUTE
"""

    # stateful-streaming twin: the emitted CLOSED sessions are every
    # gap(30min)-session except each user's LAST (the open tail held in
    # state) — gaps-and-islands SQL
    from ..plans.events import SESSION_GAP_SEC as _GAP

    sql["st_closed_sessions"] = f"""
WITH fl AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) > {_GAP * 1_000_000}
         THEN 1 ELSE 0 END AS ns
  FROM events
),
g AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM fl
),
sess AS (
  SELECT user_id, sid,
         ROUND(epoch_us(MIN(ts)) / 1000000.0, 6) AS session_start_sec,
         ROUND(epoch_us(MAX(ts)) / 1000000.0, 6) AS session_end_sec,
         CAST(COUNT(*) AS INT) AS n_events
  FROM g GROUP BY user_id, sid
)
SELECT user_id, session_start_sec, session_end_sec, n_events
FROM sess
WHERE sid < (SELECT MAX(s2.sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
"""

    sql["ev_type_rollup"] = """
SELECT event_type, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value,
  COUNT(DISTINCT user_id) AS n_users,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events GROUP BY event_type
"""

    sql["ev_user_sessions"] = """
WITH fl AS (
  SELECT user_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events
)
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(ns) + 1 AS BIGINT) AS n_sessions
FROM fl GROUP BY user_id
"""

    sql["ev_hourly_top_type"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT hour, event_type, n,
         row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rk
  FROM hourly
)
SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       event_type AS top_type, n AS n_events
FROM ranked WHERE rk = 1
"""

    sql["ev_props_sum"] = """
SELECT event_type,
  CAST(SUM(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
  COUNT(CASE WHEN TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) IS NOT NULL
        THEN 1 END) AS n_with_k
FROM events GROUP BY event_type
"""

    sql["ev_running_max_value"] = """
WITH run AS (
  SELECT user_id, value, ts,
         MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
  FROM events
)
SELECT user_id, ROUND(MAX(value), 6) AS peak_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_peak_ts
FROM run WHERE value = run_max GROUP BY user_id
"""

    sql["ev_rolling_avg"] = """
SELECT event_id, user_id,
  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_avg
FROM events
"""

    sql["ev_rank_types"] = """
WITH c AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1)
SELECT event_type, n_events,
       CAST(dense_rank() OVER (ORDER BY n_events DESC, event_type) AS INT) AS rnk
FROM c
"""

    sql["ev_user_value_quartiles"] = """
WITH t AS (
  SELECT user_id,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
  FROM events GROUP BY user_id
)
SELECT user_id, total_value,
       CAST(ntile(4) OVER (ORDER BY total_value DESC, user_id) AS INT) AS quartile
FROM t
"""

    sql["ev_rollup_daily"] = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
"""

    sql["ev_clickers_never_purchased"] = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
"""

    sql["ev_click_and_purchase_users"] = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
"""

    from ..plans.events import KMV_A, KMV_B, KMV_K, KMV_P

    _KMV_CTE = f"""
h AS (
  SELECT DISTINCT event_type, ((user_id % {KMV_P}) * {KMV_A} + {KMV_B}) % {KMV_P} AS h FROM events
),
r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
exact AS (SELECT event_type, COUNT(*) AS exact_distinct FROM h GROUP BY event_type),
kth AS (SELECT event_type, h AS hk FROM r WHERE rk = {KMV_K}),
est AS (
  SELECT exact.event_type, exact_distinct,
    CASE WHEN hk IS NOT NULL THEN ROUND({float(KMV_K - 1)} * {float(KMV_P)} / hk, 4)
         ELSE CAST(exact_distinct AS DOUBLE) END AS kmv_estimate
  FROM exact LEFT JOIN kth ON exact.event_type = kth.event_type
)"""

    sql["sketch_distinct_users"] = (
        f"WITH {_KMV_CTE}\nSELECT event_type, kmv_estimate FROM est"
    )

    sql["sketch_distinct_error"] = f"""
WITH {_KMV_CTE}
SELECT event_type, exact_distinct, kmv_estimate,
       ROUND(ABS(kmv_estimate - exact_distinct) / exact_distinct, 4) AS rel_error
FROM est
"""

    ntok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    sql["doc_token_stats"] = f"""
SELECT doc_id, lang,
  CAST(LENGTH(text) AS BIGINT) AS len_chars,
  CAST({ntok} AS BIGINT) AS num_tokens,
  ROUND(CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / {ntok}, 6)
    AS avg_token_len
FROM documents
"""

    _bpe = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')"
    sql["doc_bpe_token_stats"] = f"""
SELECT doc_id,
  CAST(len({_bpe}) AS BIGINT) AS n_bpe_tokens,
  CAST(len(list_distinct({_bpe})) AS BIGINT) AS n_distinct_tokens,
  CAST({ntok} AS BIGINT) AS n_ws_tokens,
  ROUND(CAST(len({_bpe}) AS DOUBLE) / {ntok}, 6) AS bpe_per_ws
FROM documents
"""

    stop_hits = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in text.STOPWORDS
    )
    sql["doc_quality_score"] = f"""
WITH s AS (
  SELECT doc_id,
    CAST(({stop_hits}) AS DOUBLE) / {ntok} AS stop_ratio,
    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / LENGTH(text) AS digit_ratio,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
    CAST(LENGTH(text) AS DOUBLE) AS length
  FROM documents
)
SELECT doc_id,
  ROUND(stop_ratio, 6) AS stopword_ratio,
  ROUND(digit_ratio, 6) AS digit_ratio,
  ROUND(punct_ratio, 6) AS punct_ratio,
  ROUND(least(length / 500.0, 1.0) * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3
      + (1.0 - least(digit_ratio * 10.0, 1.0)) * 0.15
      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.15, 6) AS quality_score,
  (least(length / 500.0, 1.0) * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3
      + (1.0 - least(digit_ratio * 10.0, 1.0)) * 0.15
      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.15) >= 0.5 AS keep
FROM s
"""

    sql["doc_lang_guess"] = """
WITH g AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '\\b(the|a|of)\\b')) AS en_hits,
         CASE WHEN len(regexp_extract_all(text, '\\b(the|a|of)\\b')) >= 3
              THEN 'en' ELSE 'other' END AS lang_guess
  FROM documents
)
SELECT lang, lang_guess, COUNT(*) AS n_docs,
       CAST(SUM(en_hits) AS BIGINT) AS total_hits
FROM g GROUP BY lang, lang_guess
"""

    sql["doc_fingerprint"] = (
        f"SELECT doc_id, {_POLY.format(col='text')} AS fingerprint FROM documents"
    )

    win_hash = _POLY.format(col="substring(text, i, 16)")
    sql["doc_winnow_min_hash"] = f"""
SELECT doc_id,
  CAST(list_min(list_transform(range(1, greatest(LENGTH(text) - 15, 1) + 1),
       i -> {win_hash})) AS BIGINT) AS winnow_fp
FROM documents
"""

    sql["doc_winnow_fingerprints"] = f"""
WITH h AS MATERIALIZED (
  SELECT doc_id,
         [{win_hash} for i in range(1, greatest(LENGTH(text) - 15, 1) + 1)] AS hs
  FROM documents
),
s AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([list_min(hs[j:j+7])
                        for j in range(1, greatest(len(hs) - 7, 1) + 1)]) AS fps
  FROM h
)
SELECT doc_id,
  CAST(len(fps) AS BIGINT) AS n_fingerprints,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (acc, x) -> acc + x) AS BIGINT) AS fp_sum,
  CAST(list_min(fps) AS BIGINT) AS fp_min
FROM s
"""

    # substring-level dedup: positional winnowing selections ((fp, pos)
    # encoded fp·2³² + pos), df-capped postings self-join, diagonal run
    # sessionization — byte-for-byte the Spark semantics
    from ..functions.dedup import (
        MAX_FP_DF_SS, SS_GAP, SS_K, SS_LIFT, SS_MIN_SPAN, SS_W,
    )

    _ss_sel = (
        f"CAST(list_min(hs[j:j+{SS_W - 1}]) * {SS_LIFT} + j "
        f"+ list_position(hs[j:j+{SS_W - 1}], list_min(hs[j:j+{SS_W - 1}])) - 1 AS BIGINT)"
    )
    # positional winnowing postings — shared verbatim by the substring-span
    # pair report and the boilerplate catalog (same fingerprint universe)
    _ss_post_cte = f"""h AS MATERIALIZED (
  SELECT doc_id,
         [{win_hash} for i in range(1, greatest(LENGTH(text) - {SS_K - 1}, 1) + 1)] AS hs
  FROM documents
),
sel AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([{_ss_sel}
                        for j in range(1, greatest(len(hs) - {SS_W - 1}, 1) + 1)]) AS codes
  FROM h
),
post AS MATERIALIZED (
  SELECT doc_id, CAST(u // {SS_LIFT} AS BIGINT) AS fp,
         CAST(u % {SS_LIFT} AS BIGINT) AS pos
  FROM sel, unnest(codes) AS t(u)
)"""
    sql["dedup_substring_spans"] = f"""
WITH {_ss_post_cte},
elig AS (
  SELECT fp FROM post GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {MAX_FP_DF_SS}
),
p AS MATERIALIZED (SELECT post.* FROM post JOIN elig USING (fp)),
m AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         b.pos - a.pos AS diag
  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
r AS (
  SELECT *, CASE WHEN LAG(pos_a) OVER w IS NULL
                   OR pos_a - LAG(pos_a) OVER w > {SS_GAP} THEN 1 ELSE 0 END AS nr
  FROM m WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
),
rr AS (
  SELECT *, SUM(nr) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                          ROWS UNBOUNDED PRECEDING) AS run_id
  FROM r
),
g AS (
  SELECT doc_a, doc_b, diag, run_id, MIN(pos_a) AS a_start,
         MAX(pos_a) + {SS_K - 1} AS a_end, COUNT(*) AS n
  FROM rr GROUP BY doc_a, doc_b, diag, run_id
)
SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start,
       CAST(a_end AS BIGINT) AS a_end,
       CAST(a_start + diag AS BIGINT) AS b_start,
       CAST(a_end + diag AS BIGINT) AS b_end,
       CAST(a_end - a_start + 1 AS BIGINT) AS span_len,
       CAST(n AS BIGINT) AS n_shared_fps
FROM g WHERE a_end - a_start + 1 >= {SS_MIN_SPAN}
"""

    # per-doc duplicated-character fraction over the SAME span report:
    # both extents as intervals, running-max sweep merges overlaps, merged
    # lengths sum against LENGTH(text).  Tied (s,e) rows are interchangeable
    # under the ROWS frame (any tie order yields identical running max and
    # group flags), so the window order needs no further tie-break.
    sql["dedup_substring_coverage"] = f"""
WITH sp AS MATERIALIZED ({sql["dedup_substring_spans"].strip()}),
iv AS (
  SELECT doc_a AS doc_id, a_start AS s, a_end AS e FROM sp
  UNION ALL
  SELECT doc_b AS doc_id, b_start AS s, b_end AS e FROM sp
),
mk AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps
  FROM iv
),
mg AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN ps IS NULL OR s > ps THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS g
  FROM mk
),
mrg AS (SELECT doc_id, g, MIN(s) AS ms, MAX(e) AS me FROM mg GROUP BY doc_id, g),
cov AS (SELECT doc_id, SUM(me - ms + 1) AS covered, COUNT(*) AS n_regions
        FROM mrg GROUP BY doc_id),
nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM iv GROUP BY doc_id)
SELECT d.doc_id,
  CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(cov.n_regions, 0) AS BIGINT) AS n_regions,
  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_chars,
  CAST(LENGTH(d.text) AS BIGINT) AS len_chars,
  COALESCE(cov.covered, 0) / LENGTH(d.text) AS dup_frac
FROM documents d
LEFT JOIN cov ON d.doc_id = cov.doc_id
LEFT JOIN nsp ON d.doc_id = nsp.doc_id
"""

    # the df > cap complement of the span report: two-step MIN (min doc,
    # then min pos within it) == Spark's lexicographic min(struct(doc,pos))
    sql["dedup_boilerplate_catalog"] = f"""
WITH {_ss_post_cte},
cat AS (
  SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
  FROM post GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) > {MAX_FP_DF_SS}
),
catp AS (
  SELECT c.fp, c.df, c.n_occ, c.example_doc_id,
         CAST(MIN(p.pos) AS BIGINT) AS example_pos
  FROM cat c JOIN post p ON p.fp = c.fp AND p.doc_id = c.example_doc_id
  GROUP BY c.fp, c.df, c.n_occ, c.example_doc_id
)
SELECT catp.*, substring(d.text, CAST(example_pos AS INT), {SS_K}) AS example_gram
FROM catp JOIN documents d ON d.doc_id = catp.example_doc_id
"""

    # per-doc boilerplate density over the same postings: BIGINT/BIGINT
    # division is the same IEEE double in both engines
    sql["doc_boilerplate_density"] = f"""
WITH {_ss_post_cte},
boiler AS (
  SELECT fp FROM post GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) > {MAX_FP_DF_SS}
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(COUNT(b.fp) AS BIGINT) AS n_boiler_fps,
       COUNT(b.fp) / COUNT(*) AS boiler_frac
FROM post p LEFT JOIN boiler b USING (fp)
GROUP BY p.doc_id
"""

    sql["dedup_exact"] = """
SELECT doc_id,
  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
"""

    sql["dedup_ngram_jaccard"] = f"""
WITH {_SHINGLES_CTE},
shf AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN shf USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
  ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_MIN}
"""

    from ..functions.dedup import OVERLAP_MIN

    sql["dedup_containment"] = f"""
WITH {_SHINGLES_CTE},
shf AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN shf USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
  ROUND(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS overlap,
  ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS contain_a,
  ROUND(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS contain_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) >= {OVERLAP_MIN}
"""

    sql["minhash_signatures"] = _SIG_SQL + "SELECT * FROM sig"

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, mh{2 * band} AS v0, mh{2 * band + 1} AS v1 FROM sig"
        for band in range(len(MINHASH_AB) // 2)
    )
    # canonical-collapsed LSH (see _SIG_SQL_REPS): rep-level band pairs
    # over df-capped buckets, plus canonical→copy star edges
    _pairs_body = f"""
banded AS ({bands_union}),
okb AS (SELECT band, v0, v1 FROM banded
        GROUP BY band, v0, v1 HAVING COUNT(*) <= {MAX_BAND_DF}),
bandedf AS (SELECT banded.* FROM banded JOIN okb USING (band, v0, v1)),
rep_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandedf a JOIN bandedf b
    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM rep_pairs
  UNION ALL
  SELECT canonical_id AS doc_a, doc_id AS doc_b FROM canon
  WHERE doc_id <> canonical_id
)"""

    sql["lsh_candidate_pairs"] = (
        _SIG_SQL_REPS + "," + _pairs_body + "\nSELECT doc_a, doc_b FROM pairs"
    )

    # connected components over the LSH candidate graph: the iterative
    # min-label propagation's fixpoint, computed exactly by a recursive
    # reachability CTE (label of a node = min doc_id that can reach it)
    sql["dedup_components"] = _SIG_SQL_REPS.replace("WITH ", "WITH RECURSIVE ", 1) + "," + _pairs_body + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
r AS (
  SELECT doc_id, doc_id AS comp FROM documents
  UNION
  SELECT e.dst AS doc_id, r.comp FROM r JOIN edges e ON r.doc_id = e.src
)
SELECT doc_id, MIN(comp) AS component_id FROM r GROUP BY doc_id
"""

    # single-pass twin of functions.dedup.simhash: ONE GROUP BY doc_id
    # with 16 conditional sums (VERDICT r03 item 2)
    _sim_sums = ",\n    ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    _sim_recon = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    sql["simhash"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, {_POLY.format(col='tok')} AS h FROM toks),
per_doc AS (
  SELECT doc_id,
    {_sim_sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({_sim_recon} AS BIGINT) AS simhash
FROM per_doc
"""

    norm = _NORM.format(col="embedding")
    sql["embed_label_stats"] = f"""
WITH n AS (SELECT label, ROUND({norm}, 6) AS norm FROM embeddings)
SELECT label, COUNT(*) AS n_vecs, ROUND(SUM(norm), 4) AS sum_norm,
       ROUND(MIN(norm), 6) AS min_norm, ROUND(MAX(norm), 6) AS max_norm
FROM n GROUP BY label
"""

    _QSET = f"vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * MAX_QUERIES}"
    qdot = _fold_dot("qe[i]", "embedding[i]", DIM)
    qnorm = _NORM.format(col="qe")

    def _ranked(src: str, by: str = "cosine") -> str:
        # per-query rank by `by` DESC with a cand_id tie-break
        return (
            f"(SELECT *, row_number() OVER (PARTITION BY query_id "
            f"ORDER BY {by} DESC, cand_id) AS rank FROM {src})"
        )

    # exact brute-force cosine of every query against the corpus — the
    # knn_brute_cosine answer and the truth of every recall gauge
    _brute_ctes = f"""
bq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE {_QSET}),
bp AS (
  SELECT bq.query_id, e.vec_id AS cand_id,
    ROUND({_fold_dot("bq.qe[i]", "e.embedding[i]", DIM)} / ({_NORM.format(col="bq.qe")} * {_NORM.format(col="e.embedding")}), 6) AS cosine
  FROM embeddings e, bq WHERE e.vec_id <> bq.query_id
)"""
    sql["knn_brute_cosine"] = f"""
WITH {_brute_ctes}
SELECT query_id, cand_id, cosine, CAST(rank AS INT) AS rank
FROM {_ranked("bp")} WHERE rank <= {TOP_K}
"""

    # recall@3 of an ANN search vs the brute truth: each gauge supplies
    # only its approx3 (query_id, cand_id) CTE ahead of this tail
    _recall_tail = f"""{_brute_ctes},
brute3 AS (SELECT query_id, cand_id FROM {_ranked("bp")} WHERE rank <= 3),
hits AS (SELECT brute3.query_id, COUNT(*) AS n
         FROM brute3 JOIN approx3 USING (query_id, cand_id) GROUP BY 1)
SELECT qq.query_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(n, 0) / 3.0, 6) AS recall
FROM (SELECT DISTINCT query_id FROM brute3) qq LEFT JOIN hits USING (query_id)
"""

    def _search_and_recall(search: str, recall: str, ctes: str, top3: str) -> None:
        # an ANN search whose `ctes` end in its top-3 CTE `top3`, and the
        # recall gauge of that search
        sql[search] = f"\nWITH {ctes}\nSELECT query_id, cand_id, cosine, rank FROM {top3}\n"
        sql[recall] = f"""
WITH {ctes},
approx3 AS (SELECT query_id, cand_id FROM {top3}),
{_recall_tail}"""

    def _plane_proj(k: int, table: str = "") -> str:
        # dot(embedding, plane k): similarity._plane_weight's formula, with
        # `table` its table term (empty for ann_lsh_buckets' table 0)
        return (
            f"list_reduce(list_prepend(0.0, [CAST(embedding[i+1] AS DOUBLE) * "
            f"CAST(((i * 73 + {k} * 37{table}) % 19) - 9 AS DOUBLE) for i in range(0, {DIM})]), "
            f"(acc, v) -> acc + v)"
        )

    bucket_expr = " + ".join(
        f"CASE WHEN {_plane_proj(k)} > 0.0 THEN {1 << k} ELSE 0 END"
        for k in range(LSH_PLANES)
    )
    sql["ann_lsh_buckets"] = f"""
SELECT vec_id, label, CAST({bucket_expr} AS INT) AS bucket FROM embeddings
"""
    sql["ann_bucket_sizes"] = f"""
WITH b AS (SELECT vec_id, label, CAST({bucket_expr} AS INT) AS bucket FROM embeddings)
SELECT bucket, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
FROM b GROUP BY bucket
"""

    cent_dot = _fold_dot("ce[i]", "embedding[i]", DIM)
    cent_norm = _NORM.format(col="ce")
    # data-adaptive K = clamp(ceil(sqrt(N)), 32, 4096) — the identical
    # LEAST/GREATEST/CEIL(SQRT) formula as similarity._adaptive_k, so the
    # centroid stride (and hence the whole IVF index) is bit-identical
    _ADAPTIVE_STRIDE = (
        f"(SELECT CAST(CEIL(COUNT(*) / LEAST({K_MAX_CENTROIDS}, "
        f"GREATEST({K_MIN_CENTROIDS}, CEIL(SQRT(COUNT(*)))))) AS BIGINT) "
        f"FROM embeddings)"
    )
    _ivf_cells_cte = f"""
cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
          WHERE vec_id % {_ADAPTIVE_STRIDE} = 0),
scored AS (
  SELECT e.vec_id, cent_id, ROUND({cent_dot} / ({cent_norm} * {norm}), 6) AS cos_c
  FROM embeddings e, cents
),
cells AS (
  SELECT vec_id, cent_id AS cell, cos_c AS cell_cosine
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos_c DESC, cent_id) AS rk FROM scored)
  WHERE rk = 1
)"""
    sql["ann_ivf_cells"] = f"WITH {_ivf_cells_cte}\nSELECT vec_id, cell, cell_cosine FROM cells"

    # home-cell search (nprobe=1): candidates share the query's own cell
    _ivf_home = f"""{_ivf_cells_cte},
v AS (SELECT e.vec_id, e.embedding, cells.cell FROM embeddings e JOIN cells USING (vec_id)),
q AS (SELECT vec_id AS query_id, embedding AS qe, cell AS qcell FROM v
      WHERE {_QSET}),
pairs AS (
  SELECT query_id, v.vec_id AS cand_id,
         ROUND({qdot} / ({qnorm} * {norm}), 6) AS cosine
  FROM v, q WHERE v.cell = qcell AND v.vec_id <> query_id
),
home_top AS (
  SELECT query_id, cand_id, cosine, CAST(rank AS INT) AS rank
  FROM {_ranked("pairs")} WHERE rank <= 3
)"""
    _search_and_recall("ann_ivf_topk", "ann_recall_at_k", _ivf_home, "home_top")

    pair_dot = _fold_dot("a.embedding[i]", "c.embedding[i]", DIM)
    na = _NORM.format(col="a.embedding")
    nc = _NORM.format(col="c.embedding")
    adapt_bucket = " + ".join(
        f"CASE WHEN {k} < planes AND {_plane_proj(k, ' + tbl * 101')} > 0.0 "
        f"THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for k in range(MAX_PLANES)
    )
    tbls = " UNION ALL ".join(f"SELECT {t} AS tbl" for t in range(DEDUP_TABLES))
    sql["dedup_embedding_cosine"] = f"""
WITH p AS (SELECT LEAST({MAX_PLANES}, GREATEST({MIN_PLANES}, CAST(CEIL(LOG2(COUNT(*))) AS INT))) AS planes
           FROM embeddings),
b AS (
  SELECT vec_id, embedding, tbl, {adapt_bucket} AS bucket
  FROM embeddings, p, ({tbls}) tables
)
SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
       ROUND({pair_dot} / ({na} * {nc}), 6) AS cosine
FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND({pair_dot} / ({na} * {nc}), 6) >= {similarity.COS_DUP_MIN}
"""

    _BAND = (
        "CASE WHEN {c} >= 0.3 THEN 'high_ge_0.30' "
        "WHEN {c} >= 0.25 THEN 'mid_0.25_0.30' ELSE 'low_0.20_0.25' END"
    )
    _DRM = similarity.DR_SAMPLE_MAX
    # the bounded truth sample (≤ DR_SAMPLE_MAX vectors) and its all-pairs
    # rounded cosines — similarity._sample_pairs; both dedup recall gauges
    _sample_ctes = f"""m AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {_DRM}.0) AS BIGINT)) AS m FROM embeddings),
s AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings, m
  WHERE vec_id % m = 0 AND vec_id < m * {_DRM}
),
spairs AS (
  SELECT sa.vec_id AS vec_a, sb.vec_id AS vec_b,
         ROUND({_fold_dot("sa.embedding[i]", "sb.embedding[i]", DIM)} / ({_NORM.format(col="sa.embedding")} * {_NORM.format(col="sb.embedding")}), 6) AS cosine
  FROM s sa JOIN s sb ON sa.vec_id < sb.vec_id
)"""
    sql["dedup_recall"] = f"""
WITH cand_pairs AS ({sql["dedup_embedding_cosine"]}),
{_sample_ctes},
cand AS (
  SELECT {_BAND.format(c='cosine')} AS band, COUNT(*) AS n_candidates
  FROM cand_pairs, m
  WHERE vec_a % m = 0 AND vec_a < m * {_DRM}
    AND vec_b % m = 0 AND vec_b < m * {_DRM}
  GROUP BY 1
),
truth AS (
  SELECT {_BAND.format(c='cosine')} AS band, COUNT(*) AS n_true_pairs
  FROM spairs WHERE cosine >= {similarity.COS_DUP_MIN} GROUP BY 1
)
SELECT truth.band, n_true_pairs,
       CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
       ROUND(COALESCE(n_candidates, 0) / n_true_pairs, 6) AS recall
FROM truth LEFT JOIN cand ON truth.band = cand.band
"""

    q_cent_dot = _fold_dot("ce[i]", "qe[i]", DIM)

    def _ivf_search_ctes(cents: str, cells: str, nprobe: int) -> str:
        """The query set's nprobe nearest `cents` centroids, and its top-3
        (ivf_top) over their cells' members in `cells` — the shape of every
        multi-probe IVF search (similarity._ivf_search)."""
        return f"""
v AS MATERIALIZED (SELECT e.vec_id, e.embedding, {cells}.cell
     FROM embeddings e JOIN {cells} USING (vec_id)),
qp AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE {_QSET}),
qscored AS MATERIALIZED (
  SELECT query_id, qe, cent_id,
         ROUND({q_cent_dot} / ({cent_norm} * {qnorm}), 6) AS cos_c
  FROM qp, {cents}
),
qcells AS MATERIALIZED (
  SELECT query_id, qe, cent_id AS qcell
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos_c DESC, cent_id) AS rk FROM qscored)
  WHERE rk <= {nprobe}
),
ivf_pairs AS MATERIALIZED (
  SELECT DISTINCT query_id, v.vec_id AS cand_id,
         ROUND({qdot} / ({qnorm} * {norm}), 6) AS cosine
  FROM v, qcells WHERE v.cell = qcell AND v.vec_id <> query_id
),
ivf_top AS MATERIALIZED (
  SELECT query_id, cand_id, cosine, CAST(rank AS INT) AS rank
  FROM {_ranked("ivf_pairs")} WHERE rank <= 3
)"""

    _search_and_recall(
        "ann_ivf_topk_probe2", "ann_recall_probe2",
        f"{_ivf_cells_cte},{_ivf_search_ctes('cents', 'cells', 2)}", "ivf_top",
    )

    # ---- Lloyd-refined IVF (exact oracle: centroid means go through
    # integer-scaled bigint sums, so they are order-independent and
    # bit-identical across engines; all CTEs MATERIALIZED because DuckDB
    # inlines CTE references — CLAUDE.md CSE landmine) ----
    cent_dot_e = _fold_dot("ce[i]", "embedding[i]", DIM)
    enorm = norm

    def _lloyd_cascade(sfx: str, stride_sql: str) -> list[str]:
        """Seed + LLOYD_ITERS refine rounds as MATERIALIZED CTEs; names
        suffixed so two cascades (the IVF one and the finer semantic-dedup
        one) can coexist in one query."""
        parts = [
            f"""cents_{sfx}0 AS MATERIALIZED (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
  WHERE vec_id % {stride_sql} = 0)"""
        ]
        for it in range(LLOYD_ITERS):
            sums_terms = ", ".join(
                f"SUM(CAST(FLOOR(CAST(embedding[{j + 1}] AS DOUBLE) * {CENT_SCALE}) AS BIGINT)) AS s{j}"
                for j in range(DIM)
            )
            dim_terms = ", ".join(
                f"CAST(s{j} AS DOUBLE) / ({CENT_SCALE} * cnt)" for j in range(DIM)
            )
            parts.append(f"""asg_{sfx}{it} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({cent_dot_e} / ({cent_norm} * {enorm}), 6) DESC, cent_id) AS rk
    FROM embeddings e, cents_{sfx}{it}) WHERE rk = 1
)""")
            parts.append(f"""sums_{sfx}{it} AS MATERIALIZED (
  SELECT cell, COUNT(*) AS cnt, {sums_terms}
  FROM embeddings JOIN asg_{sfx}{it} USING (vec_id) GROUP BY cell
)""")
            parts.append(
                f"cents_{sfx}{it + 1} AS MATERIALIZED (SELECT cell AS cent_id, [{dim_terms}] AS ce FROM sums_{sfx}{it})"
            )
        return parts

    lloyd_parts = _lloyd_cascade("l", _ADAPTIVE_STRIDE)
    lloyd_parts.append(f"""cells_l AS MATERIALIZED (
  SELECT vec_id, cell, cos_c AS cell_cosine FROM (
    SELECT e.vec_id, cent_id AS cell,
           ROUND({cent_dot_e} / ({cent_norm} * {enorm}), 6) AS cos_c,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({cent_dot_e} / ({cent_norm} * {enorm}), 6) DESC, cent_id) AS rk
    FROM embeddings e, cents_l{LLOYD_ITERS}) WHERE rk = 1
)""")
    _LLOYD_CTES = ",\n".join(lloyd_parts)

    # the finer semantic-dedup cascade: SEM_K_MULT·K cells (stride ÷ mult)
    _SEM_STRIDE = (
        f"(SELECT CAST(CEIL(COUNT(*) / ({similarity.SEM_K_MULT} * LEAST({K_MAX_CENTROIDS}, "
        f"GREATEST({K_MIN_CENTROIDS}, CEIL(SQRT(COUNT(*))))))) AS BIGINT) "
        f"FROM embeddings)"
    )
    _SEM_LLOYD_CTES = ",\n".join(_lloyd_cascade("s", _SEM_STRIDE))

    sql["ann_ivf_cells_lloyd"] = f"""
WITH {_LLOYD_CTES}
SELECT vec_id, cell, cell_cosine FROM cells_l
"""

    _search_and_recall(
        "ann_ivf_topk_l8", "ann_recall_l8",
        f"{_LLOYD_CTES},{_ivf_search_ctes(f'cents_l{LLOYD_ITERS}', 'cells_l', NPROBE_L8)}",
        "ivf_top",
    )

    # SemDeDup: Lloyd cells scope the within-cell pair search; round 6:
    # SEM_ASSIGN-wide multi-assignment (similarity.SEM_ASSIGN, currently 3
    # probes x 2K fine cells — the swept 1.52x-work / 0.878-recall point) —
    # pairs meet in ANY shared assigned cell; reported cell = the primary
    # (rk=1); prune the higher id of any pair with cosine >= SEM_THRESH
    # (min-id canonical)
    _sem_pair_dot = _fold_dot("a.embedding[i]", "b.embedding[i]", DIM)
    _sem_na = _NORM.format(col="a.embedding")
    _sem_nb = _NORM.format(col="b.embedding")
    _cells_sm_cte = f"""cells_sm AS MATERIALIZED (
  SELECT vec_id, cell, rk FROM (
    SELECT e.vec_id, cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({cent_dot_e} / ({cent_norm} * {enorm}), 6) DESC, cent_id) AS rk
    FROM embeddings e, cents_s{LLOYD_ITERS}) WHERE rk <= {similarity.SEM_ASSIGN}
)"""
    _sem_pruned_ctes = f"""{_cells_sm_cte},
v AS MATERIALIZED (SELECT e.vec_id, e.embedding, cells_sm.cell, cells_sm.rk
     FROM embeddings e JOIN cells_sm USING (vec_id)),
pruned AS MATERIALIZED (
  SELECT DISTINCT GREATEST(a.vec_id, b.vec_id) AS vec_id
  FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id <> b.vec_id AND b.rk = 1
  WHERE ROUND({_sem_pair_dot} / ({_sem_na} * {_sem_nb}), 6) >= {similarity.SEM_THRESH}
)"""
    sql["dedup_semantic"] = f"""
WITH {_SEM_LLOYD_CTES},
{_sem_pruned_ctes},
prim AS (SELECT vec_id, cell FROM cells_sm WHERE rk = 1)
SELECT prim.vec_id, prim.cell, (pruned.vec_id IS NULL) AS keep
FROM prim LEFT JOIN pruned USING (vec_id)
"""

    # Count-Min sketch error gauge: same affine bucket arithmetic per row
    from .events import CMS_AB, CMS_D, CMS_P, CMS_W

    _cms_a = " ".join(f"WHEN {d} THEN {CMS_AB[d][0]}" for d in range(CMS_D))
    _cms_b = " ".join(f"WHEN {d} THEN {CMS_AB[d][1]}" for d in range(CMS_D))
    _cms_bucket_sql = (
        f"(((user_id % {CMS_P}) * (CASE u.d {_cms_a} END) + (CASE u.d {_cms_b} END)) "
        f"% {CMS_P}) % {CMS_W}"
    )
    sql["sketch_cms_error"] = f"""
WITH drows AS (SELECT unnest(range(0, {CMS_D})) AS d),
cells AS MATERIALIZED (
  SELECT d, bucket, COUNT(*) AS c FROM (
    SELECT u.d AS d, {_cms_bucket_sql} AS bucket FROM events, drows u
  ) GROUP BY d, bucket
),
exact AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
),
probes AS (
  SELECT user_id, exact_count, u.d AS d, {_cms_bucket_sql} AS bucket
  FROM exact, drows u
),
est AS (
  SELECT user_id, exact_count, MIN(c) AS est_count
  FROM probes JOIN cells USING (d, bucket) GROUP BY user_id, exact_count
)
SELECT user_id, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(est_count - exact_count AS BIGINT) AS overest
FROM est
"""

    # CMS mergeability: per-day partial counter tables summed cell-wise ≡
    # the direct table (counter addition is associative), so every
    # min-over-cells estimate matches integer-for-integer
    sql["sketch_cms_merge"] = f"""
WITH drows AS (SELECT unnest(range(0, {CMS_D})) AS d),
keyed AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day, u.d AS d,
         {_cms_bucket_sql} AS bucket
  FROM events, drows u
),
daily AS (SELECT day, d, bucket, COUNT(*) AS c FROM keyed GROUP BY 1, 2, 3),
merged AS (SELECT d, bucket, SUM(c) AS c FROM daily GROUP BY 1, 2),
direct AS (SELECT d, bucket, COUNT(*) AS c FROM keyed GROUP BY 1, 2),
exact AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS exact_count FROM keyed WHERE d = 0 GROUP BY user_id
),
probes AS MATERIALIZED (
  SELECT user_id, exact_count, u.d AS d, {_cms_bucket_sql} AS bucket
  FROM exact, drows u
),
ed AS (SELECT user_id, exact_count, MIN(c) AS est_direct
       FROM probes JOIN direct USING (d, bucket) GROUP BY 1, 2),
em AS (SELECT user_id, exact_count, MIN(c) AS est_merged
       FROM probes JOIN merged USING (d, bucket) GROUP BY 1, 2),
nd AS (SELECT COUNT(DISTINCT day) AS n_days FROM keyed)
SELECT ed.user_id, CAST(ed.exact_count AS BIGINT) AS exact_count,
       CAST(ed.est_direct AS BIGINT) AS est_direct,
       CAST(em.est_merged AS BIGINT) AS est_merged,
       CAST(nd.n_days AS BIGINT) AS n_days,
       (ed.est_direct = em.est_merged) AS merge_exact
FROM ed JOIN em USING (user_id, exact_count) CROSS JOIN nd
"""

    # quantile sketch (round 6): per-(group, hash-bucket) KLL-style
    # systematic-rank compactors with exact integer weights, merged by one
    # cumulative-weight pass; the ε-rank bound Σ_b(m_b − 1) emitted as an
    # exact integer — byte-for-byte the Spark semantics
    from .events import KMV_A, KMV_B, KMV_P, QK_BUCKETS, QK_CAP, QS_PS

    _qs_targets = ", ".join(f"({p})" for p in QS_PS)
    sql["sketch_value_quantiles"] = f"""
WITH exact_r AS MATERIALIZED (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
exact_q AS (
  SELECT event_type, CAST(t.p AS INT) AS p, ROUND(value, 6) AS exact_value
  FROM exact_r, (VALUES {_qs_targets}) AS t(p)
  WHERE rk = CAST(CEIL(n * t.p / 100.0) AS BIGINT)
),
evb AS MATERIALIZED (
  SELECT event_type, event_id, value,
         (((event_id % {KMV_P}) * {KMV_A} + {KMV_B}) % {KMV_P}) % {QK_BUCKETS} AS bkt
  FROM events
),
ranked AS MATERIALIZED (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY event_type, bkt ORDER BY value, event_id) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY event_type, bkt) AS BIGINT) AS nb
  FROM evb
),
kept AS MATERIALIZED (
  SELECT event_type, bkt, event_id, value,
         (nb + {QK_CAP - 1}) // {QK_CAP} AS m,
         LEAST((nb + {QK_CAP - 1}) // {QK_CAP}, nb - rk + 1) AS w
  FROM ranked WHERE (rk - 1) % ((nb + {QK_CAP - 1}) // {QK_CAP}) = 0
),
merged AS MATERIALIZED (
  SELECT *, SUM(w) OVER (PARTITION BY event_type ORDER BY value, event_id
                         ROWS UNBOUNDED PRECEDING) AS cumw
  FROM kept
),
nn AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
targets AS (
  SELECT event_type, CAST(t.p AS INT) AS p,
         CAST(CEIL(n * t.p / 100.0) AS BIGINT) AS tgt
  FROM nn, (VALUES {_qs_targets}) AS t(p)
),
est AS (
  SELECT merged.event_type, p, ROUND(value, 6) AS est_value
  FROM merged JOIN targets ON merged.event_type = targets.event_type
  WHERE cumw >= tgt AND cumw - w < tgt
),
bound AS (
  SELECT event_type, CAST(SUM(m - 1) AS BIGINT) AS eps_rank_bound
  FROM (SELECT DISTINCT event_type, bkt, m FROM kept)
  GROUP BY event_type
)
SELECT exact_q.event_type, exact_q.p, exact_value, est_value,
       ROUND(ABS(est_value - exact_value), 6) AS abs_err, eps_rank_bound
FROM exact_q
LEFT JOIN est ON exact_q.event_type = est.event_type AND exact_q.p = est.p
JOIN bound ON exact_q.event_type = bound.event_type
"""

    sql["dedup_semantic_recall"] = f"""
WITH {_SEM_LLOYD_CTES},
{_sem_pruned_ctes},
{_sample_ctes},
truth AS MATERIALIZED (
  SELECT vec_a, vec_b FROM spairs WHERE cosine >= {similarity.SEM_THRESH}
),
nt AS (SELECT COUNT(*) AS n_true_pairs FROM truth),
nc AS (SELECT COUNT(*) AS n_caught FROM truth JOIN pruned ON truth.vec_b = pruned.vec_id)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_caught AS BIGINT) AS n_caught,
       CASE WHEN n_true_pairs > 0 THEN ROUND(n_caught / n_true_pairs, 6)
            ELSE NULL END AS recall
FROM nt, nc
"""

    from ..functions.text import LM_BUCKETS

    sql["doc_lm_bigram_score"] = f"""
WITH cps AS MATERIALIZED (
  SELECT doc_id, [ascii(x) for x in string_split(text, '')] AS cp FROM documents
),
bg AS MATERIALIZED (
  SELECT doc_id,
         unnest([(cp[i] * 31 + cp[i + 1]) % {LM_BUCKETS} for i in range(1, len(cp))]) AS b
  FROM cps WHERE len(cp) >= 2
),
counts AS MATERIALIZED (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
total AS (SELECT SUM(c) AS tc FROM counts),
per_doc AS (
  SELECT doc_id, SUM(c) AS sc, COUNT(*) AS nb
  FROM bg JOIN counts USING (b) GROUP BY doc_id
)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
       ROUND(sc * 1000000.0 / (tc * nb), 6) AS familiarity
FROM per_doc, total
"""

    sql["x_extract_docs_plain"] = f"""
SELECT doc_id,
  {_PLAIN_EXPR.format(col='text')} AS extracted_text,
  CAST(LENGTH({_PLAIN_EXPR.format(col='text')}) AS BIGINT) AS n_chars
FROM documents
"""

    # x_extract_turns / x_assemble_conversations: the kernel chain is not
    # SQL-expressible, so the oracle reads the committed expected-result
    # fixture (eager-oracle-computed, staleness-tested) while the Spark side
    # recomputes the extraction live — see sources/fixtures.py.
    from ..sources.fixtures import CONVS_FIXTURE, TURNS_FIXTURE

    sql["x_extract_turns"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, kind, skip_det,
       extracted_text, CAST(n_boxes AS INT) AS n_boxes,
       CAST(n_chars AS INT) AS n_chars, error
FROM read_parquet('{os.path.join(_FIXTURES_DIR, TURNS_FIXTURE)}')
"""

    sql["x_assemble_conversations"] = f"""
SELECT conv_id, conversation_text, CAST(n_turns AS INT) AS n_turns,
       CAST(n_chars AS BIGINT) AS n_chars
FROM read_parquet('{os.path.join(_FIXTURES_DIR, CONVS_FIXTURE)}')
"""

    # the checkpointed double-run commits exactly the per-turn expected
    # results — same oracle as x_extract_turns
    sql["x_extract_checkpointed"] = sql["x_extract_turns"]

    # extraction spread from one clustered input partition must be
    # value-identical to x_extract_turns — same fixture
    sql["x_extract_salted"] = sql["x_extract_turns"]
    # the streaming twin commits exactly the per-turn expected results
    sql["st_extract_turns"] = sql["x_extract_turns"]
    # the serialized-ONNX chain must be bit-identical to the synthetic one
    sql["x_extract_onnx"] = sql["x_extract_turns"]

    from ..sources.fixtures import MOSTANGLE_FIXTURE

    sql["x_extract_most_angle"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, extracted_text,
       CAST(n_boxes AS INT) AS n_boxes, CAST(n_chars AS INT) AS n_chars, error
FROM read_parquet('{os.path.join(_FIXTURES_DIR, MOSTANGLE_FIXTURE)}')
"""

    from ..sources.fixtures import PADDED_FIXTURE

    sql["x_extract_padded"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(span_idx AS INT) AS span_idx, x0, y0, text
FROM read_parquet('{os.path.join(_FIXTURES_DIR, PADDED_FIXTURE)}')
"""

    from ..sources.fixtures import VIS_FIXTURE

    sql["x_vis_boxes"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(vis_h AS INT) AS vis_h, CAST(vis_w AS INT) AS vis_w,
       CAST(n_drawn AS INT) AS n_drawn, CAST(px_sum AS BIGINT) AS px_sum,
       CAST(png_len AS INT) AS png_len
FROM read_parquet('{os.path.join(_FIXTURES_DIR, VIS_FIXTURE)}')
"""

    from ..sources.fixtures import CHAR_SCORES_FIXTURE

    sql["x_extract_char_scores"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(span_idx AS INT) AS span_idx, CAST(n_chars AS INT) AS n_chars,
       min_cs, max_cs
FROM read_parquet('{os.path.join(_FIXTURES_DIR, CHAR_SCORES_FIXTURE)}')
"""

    from ..sources.fixtures import MULTILANG_FIXTURE

    sql["x_extract_multilang"] = f"""
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, lang, kind,
       extracted_text, CAST(n_boxes AS INT) AS n_boxes,
       CAST(n_chars AS INT) AS n_chars, error
FROM read_parquet('{os.path.join(_FIXTURES_DIR, MULTILANG_FIXTURE)}')
"""

    # multimodal oracles: same expected-result-fixture discipline (the
    # codec chain is Python/Arrow, not SQL) — sources/media.py
    from ..sources.media import FRAMES_FIXTURE, MEDIA_FIXTURE

    _media_fx = os.path.join(_FIXTURES_DIR, MEDIA_FIXTURE)
    sql["mm_decode_meta"] = f"""
SELECT media_id, format, CAST(width AS INT) AS width,
       CAST(height AS INT) AS height, CAST(n_frames AS INT) AS n_frames, ok
FROM read_parquet('{_media_fx}')
"""
    sql["mm_features_stats"] = f"""
SELECT media_id, f0, f_max FROM read_parquet('{_media_fx}')
"""
    sql["mm_resize_meta"] = f"""
SELECT media_id, format,
       CASE WHEN ok THEN CAST(64 AS INT) END AS width,
       CASE WHEN ok THEN CAST(48 AS INT) END AS height,
       CAST(n_frames AS INT) AS n_frames, ok,
       CAST(payload_len AS INT) AS payload_len
FROM read_parquet('{_media_fx}')
"""
    sql["mm_sample_frames"] = f"""
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height
FROM read_parquet('{os.path.join(_FIXTURES_DIR, FRAMES_FIXTURE)}')
"""

    # REAL-container decode gate (round 5): the fixture's pixel sums were
    # computed eagerly by the engine's own jpeg/png/gif decoders over
    # engine-encoder-produced streams — sources/media.py real_media_row
    from ..sources.media import REAL_MEDIA_FIXTURE

    sql["mm_decode_real"] = f"""
SELECT media_id, format, CAST(width AS INT) AS width,
       CAST(height AS INT) AS height, CAST(px_sum AS BIGINT) AS px_sum, ok
FROM read_parquet('{os.path.join(_FIXTURES_DIR, REAL_MEDIA_FIXTURE)}')
"""
    # binaryFile ingest decodes the SAME corpus from real files on disk
    sql["mm_ingest_binaryfile"] = sql["mm_decode_real"]

    # AS-OF join: DuckDB has a native ASOF operator — the right side is
    # deduped to one click per (user_id, ts) first so timestamp ties are
    # deterministic in both engines (Spark side sorts clicks before
    # purchases at equal ts, matching ASOF's <= semantics).
    sql["ev_asof_click_attribution"] = """
WITH cd AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click'
), c AS (SELECT user_id, ts, event_id, value FROM cd WHERE rn = 1),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id AS purchase_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       c.event_id AS click_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us,
       ROUND(c.value, 6) AS click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""

    from .events import RANGE_JOIN_WINDOW_US

    sql["ev_range_join_follows"] = f"""
WITH l AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS l_us
  FROM events WHERE event_type = 'click'
), r AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS r_us FROM events)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT l.click_id) AS BIGINT) AS n_clicks,
       CAST(COUNT(DISTINCT r.event_id) AS BIGINT) AS n_followers
FROM l JOIN r ON l.user_id = r.user_id
             AND r.r_us > l.l_us AND r.r_us <= l.l_us + {RANGE_JOIN_WINDOW_US}
GROUP BY r.event_type
"""

    sql["doc_repetition_stats"] = """
WITH wn AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words
  FROM documents
), wc AS (
  SELECT doc_id, n_words, u.w AS w, COUNT(*) AS c
  FROM wn, UNNEST(words) AS u(w)
  GROUP BY doc_id, n_words, u.w
), topw AS (
  SELECT doc_id, n_words, w, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rk
  FROM wc
), g AS (
  SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
  FROM wn, UNNEST(range(1, n_words - 1)) AS t(i)
  WHERE n_words >= 3
), gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
gs AS (
  SELECT doc_id, SUM(c) AS total,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM gc GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(t.n_words AS BIGINT) AS n_words,
  t.w AS top_word,
  ROUND(CAST(t.c AS DOUBLE) / t.n_words, 6) AS top_word_frac,
  ROUND(COALESCE(CAST(gs.dup AS DOUBLE) / gs.total, 0.0), 6) AS dup_gram_frac
FROM topw t LEFT JOIN gs ON t.doc_id = gs.doc_id
WHERE t.rk = 1
"""

    # ---- Product quantisation (exact oracle: fixed-order per-subspace
    # folds; partial dots / norms^2 as floor(x*1e6) bigint sums — the
    # Lloyd-mean integer discipline; reused CTEs MATERIALIZED) ----
    from ..functions.similarity import PQ_DS, PQ_KS, PQ_M

    def _pq_sq(m: int) -> str:
        off = m * PQ_DS
        d = f"(CAST(e.embedding[{off} + i] AS DOUBLE) - CAST(ce[{off} + i] AS DOUBLE))"
        return (
            f"list_reduce(list_prepend(0.0, [{d} * {d} "
            f"for i in range(1, {PQ_DS + 1})]), (acc, v) -> acc + v)"
        )

    def _pq_dot(m: int, a: str = "qe", b: str = "ce") -> str:
        # subspace-m dot of array columns a, b (a = b = ce: the norm²)
        off = m * PQ_DS
        return (
            f"list_reduce(list_prepend(0.0, [CAST({a}[{off} + i] AS DOUBLE) * "
            f"CAST({b}[{off} + i] AS DOUBLE) for i in range(1, {PQ_DS + 1})]), "
            f"(acc, v) -> acc + v)"
        )

    # codebook = stride seed + ONE Lloyd round per subspace (integer-scaled
    # means — the r02 IVF fix applied to the PQ codebooks); entries that
    # win no vectors in a subspace keep their seed subvector.  The
    # builders are parameterised on (source relation, CTE prefix) so the
    # RESIDUAL variant (ann_ivfpq_res_rerank) reuses them verbatim over
    # the res_emb CTE.
    def _pq_cb_sql(src: str, p: str) -> str:
        dists0 = "\nUNION ALL\n".join(
            f"SELECT e.vec_id, cent_id, {m} AS m, ROUND({_pq_sq(m)}, 6) AS dist "
            f"FROM {src} e, {p}_cb0"
            for m in range(PQ_M)
        )
        means_parts = []
        for m in range(PQ_M):
            s_terms = ", ".join(
                f"SUM(CAST(FLOOR(CAST(e.embedding[{m * PQ_DS + j + 1}] AS DOUBLE) "
                f"* 1000000) AS BIGINT)) AS s{j}"
                for j in range(PQ_DS)
            )
            means_parts.append(
                f"SELECT {m} AS m, c.code, COUNT(*) AS cnt, {s_terms} "
                f"FROM {p}_codes0 c JOIN {src} e ON e.vec_id = c.vec_id "
                f"WHERE c.m = {m} GROUP BY c.code"
            )
        cb_joins = "\n  ".join(
            f"LEFT JOIN {p}_means m{m} ON m{m}.m = {m} AND m{m}.code = cb.cent_id"
            for m in range(PQ_M)
        )
        ce_expr = " || ".join(
            f"(CASE WHEN m{m}.code IS NULL THEN "
            f"[CAST(x AS DOUBLE) for x in cb.ce[{m * PQ_DS + 1}:{m * PQ_DS + PQ_DS}]] "
            f"ELSE [{', '.join(f'CAST(m{m}.s{j} AS DOUBLE) / (1000000.0 * m{m}.cnt)' for j in range(PQ_DS))}] END)"
            for m in range(PQ_M)
        )
        return f"""{p}_cb0 AS MATERIALIZED (
  SELECT vec_id AS cent_id, embedding AS ce FROM {src}
  WHERE vec_id % (SELECT CAST(CEIL(COUNT(*) / {PQ_KS}.0) AS BIGINT)
                  FROM {src}) = 0),
{p}_codes0 AS MATERIALIZED (
  SELECT vec_id, CAST(m AS INT) AS m, cent_id AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY dist, cent_id) AS rk
    FROM ({dists0}))
  WHERE rk = 1),
{p}_means AS MATERIALIZED (
{" UNION ALL ".join(means_parts)}),
{p}_cb AS MATERIALIZED (
  SELECT cb.cent_id, {ce_expr} AS ce
  FROM {p}_cb0 cb
  {cb_joins})"""

    def _pq_codes_sql(src: str, p: str) -> str:
        dists = "\nUNION ALL\n".join(
            f"SELECT e.vec_id, cent_id, {m} AS m, ROUND({_pq_sq(m)}, 6) AS dist "
            f"FROM {src} e, {p}_cb"
            for m in range(PQ_M)
        )
        return f"""{p}_codes AS MATERIALIZED (
  SELECT vec_id, CAST(m AS INT) AS m, cent_id AS code, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY dist, cent_id) AS rk
    FROM ({dists}))
  WHERE rk = 1)"""

    _pq_cb = _pq_cb_sql("embeddings", "pq")
    _pq_codes = _pq_codes_sql("embeddings", "pq")

    sql["ann_pq_codes"] = f"""
WITH {_pq_cb},
{_pq_codes}
SELECT vec_id, m, code, dist FROM pq_codes
"""

    # the ADC inputs (similarity._pq_adc): codes, each vector's
    # reconstructed norm from per-(subspace, code) norm² ints, the query
    # set and its per-(subspace, code) partial-dot tables
    _pq_cb2 = "\nUNION ALL\n".join(
        f"SELECT cent_id, {m} AS m, CAST(FLOOR({_pq_dot(m, 'ce')} * 1000000) AS BIGINT) AS n2int "
        f"FROM pq_cb"
        for m in range(PQ_M)
    )
    _pq_dt = "\nUNION ALL\n".join(
        f"SELECT query_id, qn, cent_id AS qc, {m} AS qm, "
        f"CAST(FLOOR({_pq_dot(m)} * 1000000) AS BIGINT) AS pdint FROM q, pq_cb"
        for m in range(PQ_M)
    )
    _pq_q = f"""q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qe, {_NORM.format(col="embedding")} AS qn
  FROM embeddings WHERE {_QSET})"""
    _pq_adc_base = f"""{_pq_cb},
{_pq_codes},
cb2 AS ({_pq_cb2}),
recon AS MATERIALIZED (
  SELECT vec_id, SQRT(CAST(SUM(n2int) AS DOUBLE) / 1000000) AS rn
  FROM pq_codes JOIN cb2 ON pq_codes.m = cb2.m AND pq_codes.code = cb2.cent_id
  GROUP BY vec_id),
{_pq_q},
dt AS MATERIALIZED ({_pq_dt})"""
    _pq_core = f"""{_pq_adc_base},
pq_scored AS (
  SELECT query_id, c.vec_id, qn, SUM(pdint) AS dint
  FROM pq_codes c JOIN dt ON c.m = dt.qm AND c.code = dt.qc
                         AND c.vec_id <> dt.query_id
  GROUP BY 1, 2, 3),
pq_pairs AS (
  SELECT query_id, s.vec_id AS cand_id,
         ROUND((CAST(dint AS DOUBLE) / 1000000) / (qn * rn), 6) AS approx_cosine
  FROM pq_scored s JOIN recon USING (vec_id))"""
    _pq_top3 = f'{_ranked("pq_pairs", "approx_cosine")} WHERE rank <= 3'

    sql["ann_pq_topk"] = f"""
WITH {_pq_core}
SELECT query_id, cand_id, approx_cosine, CAST(rank AS INT) AS rank
FROM {_pq_top3}
"""
    sql["ann_recall_pq"] = f"""
WITH {_pq_core},
approx3 AS (SELECT query_id, cand_id FROM {_pq_top3}),
{_recall_tail}"""

    from ..functions.similarity import IVFPQ_RERANK, PQ_RERANK

    _rr_dot = _fold_dot("qe[i]", "e.embedding[i]", DIM)
    _rr_en = _NORM.format(col="e.embedding")

    def _rerank_ctes(p: str, approx: str, budget: int) -> str:
        """Exact-cosine top-3 ({p}_top3) over each query's top-`budget`
        rows of the `approx` CTE (similarity._exact_rerank)."""
        return f"""{p}_short AS (
  SELECT query_id, cand_id FROM {_ranked(approx, "approx_cosine")}
  WHERE rank <= {budget}),
{p}_rr AS (
  SELECT s.query_id, s.cand_id,
         ROUND({_rr_dot} / (q.qn * {_rr_en}), 6) AS cosine
  FROM {p}_short s JOIN q ON s.query_id = q.query_id
       JOIN embeddings e ON e.vec_id = s.cand_id),
{p}_top3 AS (
  SELECT query_id, cand_id, cosine, CAST(rank AS INT) AS rank
  FROM {_ranked(f"{p}_rr")} WHERE rank <= 3)"""

    _search_and_recall(
        "ann_pq_rerank", "ann_recall_pq_rerank",
        f"{_pq_core},\n{_rerank_ctes('pq', 'pq_pairs', PQ_RERANK)}", "pq_top3",
    )

    # ---- IVF-PQ: the composed index (Lloyd cells gate the candidates,
    # PQ codes score them, exact cosine re-ranks the shortlist) ----
    # the coarse probe (similarity._ivfpq_adc): each query's NPROBE_L8
    # nearest Lloyd cells, paired with their members
    _ivfpq_probe = f"""qs AS (
  SELECT query_id, cent_id,
         ROUND({q_cent_dot} / ({cent_norm} * qn), 6) AS cos_c
  FROM q, cents_l{LLOYD_ITERS}),
qcells AS (
  SELECT query_id, cent_id AS qcell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_c DESC, cent_id) AS rk FROM qs)
  WHERE rk <= {NPROBE_L8}),
cpairs AS MATERIALIZED (
  SELECT qc2.query_id, cl.vec_id
  FROM cells_l cl JOIN qcells qc2 ON cl.cell = qc2.qcell
  WHERE cl.vec_id <> qc2.query_id)"""
    _ivfpq_core = f"""{_LLOYD_CTES},
{_pq_adc_base},
{_ivfpq_probe},
adc AS (
  SELECT p.query_id, p.vec_id, SUM(pdint) AS dint
  FROM cpairs p JOIN pq_codes c ON c.vec_id = p.vec_id
       JOIN dt ON dt.query_id = p.query_id AND dt.qm = c.m AND dt.qc = c.code
  GROUP BY 1, 2),
ivfpq_pairs AS (
  SELECT a.query_id, a.vec_id AS cand_id,
         ROUND((CAST(dint AS DOUBLE) / 1000000) / (q.qn * r.rn), 6) AS approx_cosine
  FROM adc a JOIN q ON a.query_id = q.query_id JOIN recon r ON a.vec_id = r.vec_id),
{_rerank_ctes("ivfpq", "ivfpq_pairs", IVFPQ_RERANK)}"""
    _search_and_recall("ann_ivfpq_rerank", "ann_recall_ivfpq", _ivfpq_core, "ivfpq_top3")

    # ---- RESIDUAL IVF-PQ (the faithful FAISS shape): PQ codebooks are
    # trained on x − c_cell, the ADC decomposes q·x̂ = q·c_cell + q·r̂,
    # and the reconstructed norm ‖c+r̂‖² = ‖c‖² + 2·c·r̂ + ‖r̂‖² comes
    # from three integer tables.  Every partial is a floor(x·1e6) bigint
    # (the Lloyd discipline); GREATEST(·,0) guards the ≤32-ulp floor
    # slack on the norm² in BOTH engines. ----
    _res_emb = f"""res_emb AS MATERIALIZED (
  SELECT cl.vec_id,
         [CAST(e.embedding[j] AS DOUBLE) - CAST(c.ce[j] AS DOUBLE)
          for j in range(1, {DIM} + 1)] AS embedding
  FROM cells_l cl JOIN embeddings e ON e.vec_id = cl.vec_id
       JOIN cents_l{LLOYD_ITERS} c ON c.cent_id = cl.cell)"""
    _rcb2 = "\nUNION ALL\n".join(
        f"SELECT cent_id, {m} AS m, CAST(FLOOR({_pq_dot(m, 'ce')} * 1000000) AS BIGINT)"
        f" AS r2int FROM rpq_cb"
        for m in range(PQ_M)
    )
    _ccn2_parts = "\nUNION ALL\n".join(
        f"SELECT cent_id, CAST(FLOOR({_pq_dot(m, 'ce')} * 1000000) AS BIGINT) AS v "
        f"FROM cents_l{LLOYD_ITERS}"
        for m in range(PQ_M)
    )
    _cross_parts = "\nUNION ALL\n".join(
        f"SELECT c.cent_id AS xcell, r.cent_id AS xcode, {m} AS xm, "
        f"CAST(FLOOR({_pq_dot(m, 'c.ce', 'r.ce')} * 1000000) AS BIGINT) AS crint "
        f"FROM cents_l{LLOYD_ITERS} c, rpq_cb r"
        for m in range(PQ_M)
    )
    _qc_parts = "\nUNION ALL\n".join(
        f"SELECT query_id, cent_id AS qccell, "
        f"CAST(FLOOR({_pq_dot(m)} * 1000000) AS BIGINT) AS v "
        f"FROM q, cents_l{LLOYD_ITERS}"
        for m in range(PQ_M)
    )
    _rdt = "\nUNION ALL\n".join(
        f"SELECT query_id, cent_id AS qc, {m} AS qm, "
        f"CAST(FLOOR({_pq_dot(m)} * 1000000) AS BIGINT) AS pdint FROM q, rpq_cb"
        for m in range(PQ_M)
    )
    _ivfpq_res_core = f"""{_LLOYD_CTES},
{_res_emb},
{_pq_cb_sql("res_emb", "rpq")},
{_pq_codes_sql("res_emb", "rpq")},
rcb2 AS ({_rcb2}),
ccn2 AS (SELECT cent_id, SUM(v) AS c2int FROM ({_ccn2_parts}) GROUP BY cent_id),
cross_t AS MATERIALIZED ({_cross_parts}),
{_pq_q},
qcs AS (SELECT query_id, qccell, SUM(v) AS qcint FROM ({_qc_parts})
        GROUP BY query_id, qccell),
recon_r AS MATERIALIZED (
  SELECT cds.vec_id, cl.cell,
         SQRT(GREATEST(MAX(cc.c2int) + SUM(2 * cr.crint + rb.r2int), 0)
              / 1000000.0) AS rn
  FROM rpq_codes cds
  JOIN cells_l cl ON cl.vec_id = cds.vec_id
  JOIN cross_t cr ON cr.xcell = cl.cell AND cr.xm = cds.m AND cr.xcode = cds.code
  JOIN rcb2 rb ON rb.m = cds.m AND rb.cent_id = cds.code
  JOIN ccn2 cc ON cc.cent_id = cl.cell
  GROUP BY cds.vec_id, cl.cell),
rdt AS MATERIALIZED ({_rdt}),
{_ivfpq_probe},
radc AS (
  SELECT p.query_id, p.vec_id, SUM(pdint) AS dres
  FROM cpairs p JOIN rpq_codes c ON c.vec_id = p.vec_id
       JOIN rdt ON rdt.query_id = p.query_id AND rdt.qm = c.m AND rdt.qc = c.code
  GROUP BY 1, 2),
res_pairs AS (
  SELECT a.query_id, a.vec_id AS cand_id,
         ROUND((CAST(qcs.qcint + a.dres AS DOUBLE) / 1000000) / (q.qn * r.rn), 6)
           AS approx_cosine
  FROM radc a
  JOIN recon_r r ON a.vec_id = r.vec_id
  JOIN qcs ON qcs.query_id = a.query_id AND qcs.qccell = r.cell
  JOIN q ON a.query_id = q.query_id),
{_rerank_ctes("res", "res_pairs", IVFPQ_RERANK)}"""
    _search_and_recall(
        "ann_ivfpq_res_rerank", "ann_recall_ivfpq_res", _ivfpq_res_core, "res_top3"
    )

    from .events import FUNNEL_WINDOW_US

    sql["ev_funnel_conversion"] = f"""
WITH clicks AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, c.first_click,
         MIN(epoch_us(e.ts)) - c.first_click AS lat_us
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.first_click
  GROUP BY e.user_id, c.first_click
)
SELECT '1_clicked' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS mean_latency_us
FROM clicks
UNION ALL
SELECT '2_purchased_after_click', CAST(COUNT(*) AS BIGINT),
       ROUND(CAST(SUM(lat_us) AS DOUBLE) / COUNT(*), 4)
FROM conv
UNION ALL
SELECT '3_converted_within_1h', CAST(COUNT(*) AS BIGINT),
       ROUND(CAST(SUM(lat_us) AS DOUBLE) / COUNT(*), 4)
FROM conv WHERE lat_us <= {FUNNEL_WINDOW_US}
"""

    sql["st_dedup_minute"] = """
SELECT DISTINCT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       user_id, event_type
FROM events
"""

    # stream-static enrichment: stateless, so the oracle is the plain
    # batch join — value comparisons in exact cents bigints (v·n > total
    # ⇔ v > mean, no float division)
    sql["st_enriched_events"] = """
WITH u AS (SELECT user_id, COUNT(*) AS user_n_events,
                  SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS user_total_cents
           FROM events GROUP BY user_id)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.user_id, e.event_type,
       CAST(FLOOR(e.value * 100) AS BIGINT) AS value_cents,
       CAST(u.user_n_events AS BIGINT) AS user_n_events,
       CAST(u.user_total_cents AS BIGINT) AS user_total_cents,
       (CAST(FLOOR(e.value * 100) AS BIGINT) * u.user_n_events
          > u.user_total_cents) AS above_user_avg
FROM events e JOIN u USING (user_id)
"""

    sql["st_click_purchase_join"] = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lat_us
FROM events c
JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""

    _comp_stmt = sql["dedup_components"]
    _final_sel = "SELECT doc_id, MIN(comp) AS component_id FROM r GROUP BY doc_id"
    assert _final_sel in _comp_stmt
    sql["dedup_keep_best"] = _comp_stmt.replace(_final_sel, f""",
comp AS (SELECT doc_id, MIN(comp) AS component_id FROM r GROUP BY doc_id),
qual AS (SELECT doc_id, quality_score FROM ({sql["doc_quality_score"].strip()}) qsub)
SELECT c.doc_id, c.component_id, q.quality_score,
       (row_number() OVER (PARTITION BY c.component_id
            ORDER BY q.quality_score DESC, c.doc_id) = 1) AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY c.component_id) AS BIGINT) AS n_in_component
FROM comp c JOIN qual q ON c.doc_id = q.doc_id
""")

    # PII scrub / URL canonicalise twins (regex subset identical in Java
    # regex and RE2; DuckDB regexp_replace needs the 'g' flag to match
    # Spark's replace-all; no backreferences anywhere)
    _pii_enrich = """
  text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
  '.example.org call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
  ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' ||
  ((doc_id * 13) % 256) ||
  ' card 4111-2222-3333-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
"""
    sql["doc_pii_scrub"] = f"""
WITH e AS (SELECT doc_id, {_pii_enrich} AS x FROM documents),
s AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(x,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
      '\\b[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}\\b', '[CC]', 'g'),
      '\\b555-[0-9]{{4}}\\b', '[PHONE]', 'g'),
      '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '[IP]', 'g') AS scrubbed
  FROM e
)
SELECT doc_id, scrubbed,
  CAST((length(scrubbed) - length(replace(scrubbed, '[EMAIL]', ''))) / 7 AS BIGINT) AS n_email,
  CAST((length(scrubbed) - length(replace(scrubbed, '[CC]', ''))) / 4 AS BIGINT) AS n_cc,
  CAST((length(scrubbed) - length(replace(scrubbed, '[PHONE]', ''))) / 7 AS BIGINT) AS n_phone,
  CAST((length(scrubbed) - length(replace(scrubbed, '[IP]', ''))) / 4 AS BIGINT) AS n_ip
FROM s
"""

    sql["doc_url_normalize"] = """
WITH u AS (SELECT doc_id,
  'HTTPS://WWW.Example' || (doc_id % 5) || '.COM:443/' || source || '/Page' ||
  doc_id || '?utm_source=feed&ref=' || (doc_id % 3) || '&id=' || doc_id ||
  '#Section' || (doc_id % 7) AS url
  FROM documents),
n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS x FROM u),
n2 AS (SELECT doc_id, url,
       regexp_extract(x, '^[^/]*//[^/]*') AS head,
       substring(x, length(regexp_extract(x, '^[^/]*//[^/]*')) + 1) AS rest
       FROM n1),
n3 AS (SELECT doc_id, url,
   regexp_replace(lower(head), ':443$', '') ||
   regexp_replace(regexp_replace(rest, 'utm_[^&]*&', '', 'g'),
                  '[?&]utm_[^&]*$', '') AS canonical_url
 FROM n2)
SELECT doc_id, url, canonical_url,
  CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_dups
FROM n3
"""

    from ..functions.dedup import BENCH_MAX_DOCS, BENCH_MOD

    sql["doc_benchmark_overlap"] = f"""
WITH {_SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh0
          WHERE doc_id % {BENCH_MOD} = 0
            AND doc_id < {BENCH_MOD * BENCH_MAX_DOCS}),
train AS (SELECT doc_id, shingle FROM sh0 WHERE doc_id % {BENCH_MOD} <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM train GROUP BY doc_id),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hit
  FROM train JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh, CAST(n_hit AS BIGINT) AS n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / n_sh, 6) AS contamination
FROM sizes JOIN hits USING (doc_id)
"""

    from ..functions.text import SPLIT_BUCKETS, SPLIT_TRAIN_LT

    _bucket = f"({_POLY.format(col='text')}) % {SPLIT_BUCKETS}"
    sql["doc_split_assign"] = f"""
SELECT doc_id, CAST({_bucket} AS INT) AS bucket,
       CASE WHEN {_bucket} < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN {_bucket} < {SPLIT_TRAIN_LT + 10} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

    # ---- late round 6: link-graph PageRank (fixed-iteration, integer-
    # scaled rank mass — the Lloyd-means discipline applied to a damped
    # power iteration; the oracle unrolls PR_ITERS chained CTE rounds)
    from ..functions.graph import (
        PR_DAMP_DEN, PR_DAMP_NUM, PR_FANOUT, PR_ITERS, PR_SCALE,
    )

    _pr_iters = ""
    _prev = "r0"
    for t in range(1, PR_ITERS + 1):
        _pr_iters += f""",
c{t} AS (SELECT e.dst, SUM(r.r // o.outdeg) AS agg_in
        FROM pr_edges e JOIN pr_outdeg o ON e.src = o.src
        JOIN {_prev} r ON e.src = r.doc_id GROUP BY e.dst),
r{t} AS (SELECT b.doc_id,
                CAST(({PR_DAMP_DEN - PR_DAMP_NUM} * b.base) // {PR_DAMP_DEN}
                     + ({PR_DAMP_NUM} * COALESCE(c.agg_in, 0)) // {PR_DAMP_DEN}
                     AS BIGINT) AS r
        FROM pr_base b LEFT JOIN c{t} c ON b.doc_id = c.dst)"""
        _prev = f"r{t}"
    sql["graph_pagerank"] = f"""
WITH nn AS (SELECT COUNT(*) AS n_nodes FROM documents),
ks AS (SELECT UNNEST(range(1, {PR_FANOUT + 1})) AS k),
pr_edges AS (
  SELECT d.doc_id AS src,
         (((d.doc_id * d.doc_id) % nn.n_nodes) * 7 + d.doc_id * 31 + ks.k)
           % nn.n_nodes AS dst
  FROM documents d CROSS JOIN nn CROSS JOIN ks
  WHERE (d.doc_id + ks.k) % 4 != 0
    AND d.doc_id != (((d.doc_id * d.doc_id) % nn.n_nodes) * 7
                     + d.doc_id * 31 + ks.k) % nn.n_nodes
),
pr_outdeg AS (SELECT src, COUNT(*) AS outdeg FROM pr_edges GROUP BY src),
pr_base AS (SELECT d.doc_id, ({PR_SCALE} // nn.n_nodes) AS base
            FROM documents d CROSS JOIN nn),
r0 AS (SELECT doc_id, base AS r FROM pr_base){_pr_iters},
inl AS (SELECT dst AS doc_id, COUNT(*) AS n_inlinks FROM pr_edges GROUP BY dst)
SELECT b.doc_id, CAST({_prev}.r AS BIGINT) AS pr_scaled,
       CAST(COALESCE(i.n_inlinks, 0) AS BIGINT) AS n_inlinks,
       CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS out_degree
FROM pr_base b JOIN {_prev} ON b.doc_id = {_prev}.doc_id
LEFT JOIN inl i ON b.doc_id = i.doc_id
LEFT JOIN pr_outdeg o ON b.doc_id = o.src
"""

    # ---- late round 6: tf-idf keyword view (linear-idf surrogate so the
    # score stays exact bigint — see the Spark docstring)
    from ..functions.text import TFIDF_SCALE, TFIDF_TOP_K

    sql["doc_tfidf_top_terms"] = f"""
WITH toks AS (SELECT doc_id,
                     UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (SELECT t.doc_id, t.term, t.tf, q.df,
                  (t.tf * {TFIDF_SCALE}) // q.df AS score_scaled
           FROM tf t JOIN dfq q USING (term)),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score_scaled DESC, term) AS rk
           FROM scored)
SELECT doc_id, CAST(rk AS INT) AS rk, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, CAST(score_scaled AS BIGINT) AS score_scaled
FROM ranked WHERE rk <= {TFIDF_TOP_K}
"""

    # ---- late round 6: HyperLogLog (rho via exact integer CASE cascade;
    # 2^-M_j as CASE-mapped exact double literals — the float SUM is
    # order-independent because every partial sum is representable)
    from ..plans.events import HLL_ALPHA_M2, HLL_M, HLL_WBITS

    _rho_branches = " ".join(
        f"WHEN (h // {HLL_M}) >= {1 << (HLL_WBITS - r)} THEN {r}"
        for r in range(1, HLL_WBITS + 1)
    )
    _pow2_branches = " ".join(
        f"WHEN {mj} THEN CAST({2.0 ** -mj!r} AS DOUBLE)"
        for mj in range(1, HLL_WBITS + 2)
    )
    sql["sketch_hll_distinct"] = f"""
WITH h AS (SELECT event_type, event_id,
                  ((event_id % {KMV_P}) * {KMV_A} + {KMV_B}) % {KMV_P} AS h
           FROM events),
hr AS (SELECT event_type, event_id, h % {HLL_M} AS reg,
              CASE {_rho_branches} ELSE {HLL_WBITS + 1} END AS rho
       FROM h),
regs AS (SELECT event_type, reg, MAX(rho) AS mj FROM hr GROUP BY event_type, reg),
folded AS (SELECT event_type, COUNT(*) AS n_present,
                  SUM(CASE mj {_pow2_branches} END) AS z_present
           FROM regs GROUP BY event_type),
est AS (SELECT event_type,
               ROUND(CAST({float(HLL_ALPHA_M2)!r} AS DOUBLE)
                     / (CAST({HLL_M} - n_present AS DOUBLE) + z_present), 4)
                 AS hll_estimate
        FROM folded),
exact AS (SELECT event_type, COUNT(DISTINCT event_id) AS exact_distinct
          FROM h GROUP BY event_type)
SELECT e.event_type, CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       s.hll_estimate,
       ROUND(ABS(s.hll_estimate - e.exact_distinct) / e.exact_distinct, 4)
         AS rel_error
FROM exact e JOIN est s USING (event_type)
"""

    # HLL mergeability: per-day partial registers max-merged ≡ the direct
    # registers, so the two estimates are bit-identical (merge_exact is
    # the structural proof column)
    _hll_fold = (
        f"SELECT event_type, COUNT(*) AS n_present, "
        f"SUM(CASE mj {_pow2_branches} END) AS z_present FROM {{src}} GROUP BY event_type"
    )
    _hll_est = (
        f"SELECT event_type, ROUND(CAST({float(HLL_ALPHA_M2)!r} AS DOUBLE)"
        f" / (CAST({HLL_M} - n_present AS DOUBLE) + z_present), 4) AS {{name}}"
        f" FROM ({{fold}})"
    )
    sql["sketch_hll_merge"] = f"""
WITH h AS (SELECT event_type, CAST(ts AS DATE) AS day, event_id,
                  ((event_id % {KMV_P}) * {KMV_A} + {KMV_B}) % {KMV_P} AS h
           FROM events),
hr AS (SELECT event_type, day, h % {HLL_M} AS reg,
              CASE {_rho_branches} ELSE {HLL_WBITS + 1} END AS rho
       FROM h),
daily AS (SELECT event_type, day, reg, MAX(rho) AS mj FROM hr GROUP BY 1, 2, 3),
mregs AS (SELECT event_type, reg, MAX(mj) AS mj FROM daily GROUP BY 1, 2),
dregs AS (SELECT event_type, reg, MAX(rho) AS mj FROM hr GROUP BY 1, 2),
ed AS ({_hll_est.format(name="hll_direct", fold=_hll_fold.format(src="dregs"))}),
em AS ({_hll_est.format(name="hll_merged", fold=_hll_fold.format(src="mregs"))}),
nd AS (SELECT event_type, COUNT(DISTINCT day) AS n_days FROM hr GROUP BY 1)
SELECT nd.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
       ed.hll_direct, em.hll_merged,
       (ed.hll_direct = em.hll_merged) AS merge_exact
FROM nd JOIN ed USING (event_type) JOIN em USING (event_type)
"""

    # Z-order layout gauge: same Morton formula (DuckDB spells integer
    # division //), equal-count buckets from CEIL(n/Z_BUCKETS), spans per
    # bucket under both layouts
    from ..plans.events import Z_BUCKETS, Z_D_BITS, Z_U_BITS, _z_expr

    sql["ev_zorder_layout"] = f"""
WITH md AS (SELECT MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS m FROM events),
base AS MATERIALIZED (
  SELECT event_id, user_id % {1 << Z_U_BITS} AS u,
         ((CAST(ts AS DATE) - DATE '1970-01-01') - md.m) % {1 << Z_D_BITS} AS d
  FROM events, md
),
z AS MATERIALIZED (SELECT *, {_z_expr("//")} AS zval FROM base),
w AS (SELECT CAST(CEIL(COUNT(*) / {Z_BUCKETS}.0) AS BIGINT) AS width FROM z),
zr AS (SELECT z.*, row_number() OVER (ORDER BY zval, event_id) AS rk FROM z),
rr AS (SELECT z.*, row_number() OVER (ORDER BY event_id) AS rk FROM z),
lay AS (
  SELECT 'zorder' AS layout, (rk - 1) // w.width AS bucket, u, d FROM zr, w
  UNION ALL
  SELECT 'rowid' AS layout, (rk - 1) // w.width AS bucket, u, d FROM rr, w
)
SELECT layout, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(u) - MIN(u) AS BIGINT) AS u_span,
       CAST(MAX(d) - MIN(d) AS BIGINT) AS d_span
FROM lay GROUP BY layout, bucket
"""

    # robust outlier gauge: exact rank-selected median/MAD (the oracle
    # uses plain partitioned windows — SQL-natural; the Spark side's
    # global-rank-minus-offsets computes identical per-group ranks), one
    # exact |v−med| op, 3·MAD fence, integer per-million share
    from ..plans.events import OUTLIER_K, OUTLIER_SCALE

    sql["ev_value_outliers"] = f"""
WITH b AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
cnt AS (SELECT event_type, COUNT(*) AS n FROM b GROUP BY 1),
r1 AS (SELECT b.*, row_number() OVER (PARTITION BY event_type
                                      ORDER BY v, event_id) AS rk FROM b),
med AS (SELECT r1.event_type, v AS med
        FROM r1 JOIN cnt USING (event_type) WHERE rk = (n + 1) // 2),
d AS MATERIALIZED (SELECT b.*, m.med, ABS(b.v - m.med) AS ad
                   FROM b JOIN med m USING (event_type)),
r2 AS (SELECT d.*, row_number() OVER (PARTITION BY event_type
                                      ORDER BY ad, event_id) AS rk FROM d),
mad AS (SELECT r2.event_type, ad AS mad
        FROM r2 JOIN cnt USING (event_type) WHERE rk = (n + 1) // 2)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(d.med) AS med, MAX(mad.mad) AS mad,
       CAST(SUM(CASE WHEN d.ad > CAST({OUTLIER_K} AS DOUBLE) * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST((SUM(CASE WHEN d.ad > CAST({OUTLIER_K} AS DOUBLE) * mad.mad
                      THEN 1 ELSE 0 END) * {OUTLIER_SCALE}) // COUNT(*) AS BIGINT)
         AS outlier_ppm
FROM d JOIN mad USING (event_type)
GROUP BY d.event_type
"""

    # ---- late round 6: Bloom semi-join confusion matrix
    from ..plans.events import BLOOM_K, BLOOM_M, CMS_AB, CMS_P

    def _bpos(d: int, key: str = "okey") -> str:
        a, b = CMS_AB[d]
        return f"((({key} % {CMS_P}) * {a} + {b}) % {CMS_P}) % {BLOOM_M}"

    _bits_union = "\nUNION ALL ".join(
        f"SELECT {d} AS d, {_bpos(d)} AS pos FROM members" for d in range(BLOOM_K)
    )
    _probe_union = "\nUNION ALL ".join(
        f"SELECT okey, n_rows, {d} AS d, {_bpos(d)} AS pos FROM probe"
        for d in range(BLOOM_K)
    )
    sql["sketch_bloom_semijoin"] = f"""
WITH members AS (SELECT o_orderkey AS okey FROM orders
                 WHERE o_orderpriority = '1-URGENT'),
bits AS (SELECT DISTINCT d, pos FROM ({_bits_union})),
probe AS (SELECT l_orderkey AS okey, COUNT(*) AS n_rows
          FROM lineitem GROUP BY l_orderkey),
probed AS ({_probe_union}),
passed AS (SELECT p.okey, p.n_rows,
                  (SUM(CASE WHEN b.d IS NOT NULL THEN 1 ELSE 0 END) = {BLOOM_K})
                    AS bloom_pass
           FROM probed p LEFT JOIN bits b ON p.d = b.d AND p.pos = b.pos
           GROUP BY p.okey, p.n_rows),
flagged AS (SELECT p.okey, p.n_rows, p.bloom_pass,
                   (m.okey IS NOT NULL) AS is_member
            FROM passed p LEFT JOIN members m ON p.okey = m.okey)
SELECT is_member, bloom_pass, CAST(COUNT(*) AS BIGINT) AS n_orderkeys,
       CAST(SUM(n_rows) AS BIGINT) AS n_lineitem_rows
FROM flagged GROUP BY is_member, bloom_pass
"""

    # ---- late round 6: sequence / cohort analytics
    sql["ev_type_transitions"] = """
WITH lagged AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
c AS (SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
      FROM lagged WHERE prev_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n_transitions,
       ROUND(CAST(c.n AS DOUBLE) / t.tot, 6) AS p_transition
FROM c JOIN t USING (from_type)
"""

    sql["ev_cohort_retention"] = """
WITH e AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
g AS (SELECT f.cohort_day,
             date_diff('day', f.cohort_day, e.day) AS day_offset,
             COUNT(DISTINCT e.user_id) AS n_active
      FROM e JOIN f USING (user_id) GROUP BY 1, 2),
s AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM f GROUP BY 1)
SELECT strftime(g.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(g.day_offset AS INT) AS day_offset,
       CAST(g.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(CAST(g.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM g JOIN s USING (cohort_day)
"""

    # ---- late round 6: chunking + packing (the oracle's sequential
    # running-sum window is exactly what the distributed two-pass scan
    # must reproduce)
    from ..functions.text import CHUNK_C, CHUNK_S, PACK_CAP

    sql["doc_chunk_spans"] = f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM toks),
idx AS (SELECT doc_id, t,
               UNNEST(range(0, ((GREATEST(n - {CHUNK_C}, 0) + {CHUNK_S - 1})
                                // {CHUNK_S}) + 1)) AS i
        FROM base),
ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              CAST(i * {CHUNK_S} + 1 AS BIGINT) AS start_tok,
              CAST(len(t[i * {CHUNK_S} + 1 : i * {CHUNK_S} + {CHUNK_C}]) AS BIGINT)
                AS n_tok,
              array_to_string(t[i * {CHUNK_S} + 1 : i * {CHUNK_S} + {CHUNK_C}], ' ')
                AS s
       FROM idx)
SELECT doc_id, chunk_idx, start_tok, n_tok,
       CAST(length(s) AS BIGINT) AS n_chars,
       {_POLY.format(col='s')} AS chunk_hash
FROM ch
"""

    sql["doc_pack_shards"] = f"""
WITH c AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                    AS n_tok
           FROM documents),
s AS (SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM c)
SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum_tok,
       CAST((cum - n_tok) // {PACK_CAP} AS BIGINT) AS shard_id
FROM s
"""

    # ---- late round 6: pivot + cube (the rollup's siblings)
    from ..plans.events import PIVOT_TYPES

    _pivot_cols = ",\n       ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
        for t in PIVOT_TYPES
    )
    sql["ev_pivot_day_types"] = f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       {_pivot_cols}
FROM events GROUP BY 1
"""

    sql["ev_cube_day_type"] = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY CUBE (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
"""

    sql["ev_hourly_gapfill"] = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_v
  FROM events GROUP BY 1, 2
),
rng AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1 FROM events),
grid AS (
  SELECT t.event_type, g.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              FROM rng) g
),
j AS (SELECT grid.event_type, grid.hour, agg.n, agg.sum_v
      FROM grid LEFT JOIN agg USING (event_type, hour))
SELECT event_type, strftime(hour, '%Y-%m-%d %H:00:00') AS hour,
       CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
       LAST_VALUE(sum_v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hour
         ROWS UNBOUNDED PRECEDING) AS locf_sum_value
FROM j
"""

    # ---- late round 6: edit-distance record linkage (ASCII-projected
    # keys — Spark levenshtein counts codepoints, DuckDB bytes; they
    # agree exactly on the ASCII subset)
    from ..functions.dedup import (
        FUZZY_BLOCK_LEN, FUZZY_KEY_LEN, FUZZY_MAX_LEV, MAX_FUZZY_DF,
    )

    sql["dedup_fuzzy_prefix"] = f"""
WITH k AS (
  SELECT doc_id,
         substr(regexp_replace(substr(text, 1, 64), '[^ -~]', '', 'g'),
                1, {FUZZY_KEY_LEN}) AS key,
         substr(regexp_replace(substr(text, 1, 64), '[^ -~]', '', 'g'),
                1, {FUZZY_BLOCK_LEN}) AS block
  FROM documents
),
b AS (SELECT *, COUNT(*) OVER (PARTITION BY block) AS bdf FROM k),
f AS (SELECT * FROM b WHERE bdf <= {MAX_FUZZY_DF}),
p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
             CAST(levenshtein(a.key, c.key) AS INT) AS lev
      FROM f a JOIN f c ON a.block = c.block AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b, lev FROM p WHERE lev <= {FUZZY_MAX_LEV}
"""

    # ---- late round 6: the FULL-UNICODE fuzzy twin.  DuckDB's
    # levenshtein() counts UTF-8 bytes, so the oracle re-implements
    # CODEPOINT Wagner-Fischer edit distance in pure SQL: an outer
    # list_reduce over the first key's codepoints whose accumulator is
    # the DP ROW (a BIGINT[] seeded by list_prepend — a left fold like
    # _POLY's with a LIST accumulator), and an inner list_reduce over
    # the second key's positions building the next row sequentially.
    # Verified equal to Spark's levenshtein on CJK/accented/empty keys.
    def _cp_arr(col: str) -> str:
        return f"[CAST(unicode(x) AS BIGINT) for x in string_split({col}, '')]"

    def _lev_dp(ca: str, cb: str) -> str:
        return f"""list_extract(
    list_reduce(
      list_prepend(CAST(range(0, len({cb}) + 1) AS BIGINT[]),
                   [[c] for c in {ca}]),
      (old, cl) -> list_reduce(
          list_prepend([list_extract(old, 1) + 1],
                       [[CAST(j AS BIGINT)] for j in range(1, len({cb}) + 1)]),
          (acc, jl) -> list_append(acc,
             least(list_extract(old, jl[1] + 1) + 1,
                   list_extract(acc, len(acc)) + 1,
                   list_extract(old, jl[1])
                     + CASE WHEN cl[1] = list_extract({cb}, jl[1])
                            THEN 0 ELSE 1 END))
      )
    ), len({cb}) + 1)"""

    sql["dedup_fuzzy_unicode"] = f"""
WITH k AS (
  SELECT doc_id, substr(text, 1, {FUZZY_KEY_LEN}) AS key,
         substr(text, 1, {FUZZY_BLOCK_LEN}) AS block
  FROM documents
),
b AS (SELECT *, COUNT(*) OVER (PARTITION BY block) AS bdf FROM k),
f AS (SELECT * FROM b WHERE bdf <= {MAX_FUZZY_DF}),
p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.key AS ka, c.key AS kb
      FROM f a JOIN f c ON a.block = c.block AND a.doc_id < c.doc_id),
cparr AS (SELECT doc_a, doc_b, {_cp_arr('ka')} AS ca, {_cp_arr('kb')} AS cb
          FROM p),
l AS (SELECT doc_a, doc_b, CAST({_lev_dp('ca', 'cb')} AS INT) AS lev
      FROM cparr)
SELECT doc_a, doc_b, lev FROM l WHERE lev <= {FUZZY_MAX_LEV}
"""

    # ---- late round 6: BPE merge learning.  Every vocab round is
    # MATERIALIZED — v{r-1} is referenced twice per round (pair counts +
    # merge application) and b{r} twice (application + final union), so
    # DuckDB's CTE inlining would otherwise go exponential over the
    # rounds (the winnowing lesson).
    #
    # The merge-application fold deliberately avoids DuckDB 1.0's
    # nested-lambda forms: a struct-accumulator list_reduce whose input
    # is built by an inner list_transform returns CORRUPTED results when
    # the fold is applied twice in one chained query (minimal repro:
    # 'window' collapses to ['w'] un-materialized, or mutates its first
    # symbol materialized — recorded in BASELINE.md).  Instead the
    # accumulator is ONE VARCHAR — '<out-with-chr(31)-seps>' || chr(2)
    # || '<pending-prev-symbol>' — folded directly over the symbol list
    # with a single flat lambda (greedy leftmost-match: hold prev; on
    # (prev, cur) = (l, r) emit the merged symbol and clear prev), and
    # the finish step flushes the pending symbol via a correlated scalar
    # subquery.  chr(31)/chr(2) cannot collide with [a-z0-9] symbols.
    from ..functions.text import BPE_N_MERGES

    _bpe_fold = """string_split(ltrim(
  (SELECT CASE WHEN substr(x, strpos(x, chr(2)) + 1) = ''
               THEN substr(x, 1, strpos(x, chr(2)) - 1)
               ELSE substr(x, 1, strpos(x, chr(2)) - 1) || chr(31)
                    || substr(x, strpos(x, chr(2)) + 1)
          END FROM (SELECT
    list_reduce(list_prepend(chr(2), syms),
      (acc, s) -> CASE
        WHEN substr(acc, strpos(acc, chr(2)) + 1) = ''
          THEN substr(acc, 1, strpos(acc, chr(2)) - 1) || chr(2) || s
        WHEN substr(acc, strpos(acc, chr(2)) + 1) = b.l AND s = b.r
          THEN substr(acc, 1, strpos(acc, chr(2)) - 1) || chr(31)
               || b.l || b.r || chr(2)
        ELSE substr(acc, 1, strpos(acc, chr(2)) - 1) || chr(31)
             || substr(acc, strpos(acc, chr(2)) + 1) || chr(2) || s
      END) AS x)), chr(31)), chr(31))"""

    def _bpe_round_ctes(include_final_vocab: bool) -> str:
        # exhaustion fallback: if a round's pair table is EMPTY (vocab ran
        # out of adjacent pairs before BPE_N_MERGES), b{r} emits a chr(30)
        # sentinel no-op pair instead of zero rows — the CROSS JOIN v-chain
        # stays alive (the fold can never match chr(30), symbols are
        # [a-z0-9]+ merges) and the apply view keeps the correct final
        # segmentation; the learn view filters sentinels out, matching the
        # trainer's break.  Without this an exhausted corpus would empty
        # the whole v-chain and the apply oracle would report all-zero
        # token counts while Spark applied the shorter table (round-7
        # review finding; every gate corpus learns the full 64 today).
        rounds = ""
        for r in range(1, BPE_N_MERGES + 1):
            rounds += f""",
p{r} AS (SELECT q.pr.l AS l, q.pr.r AS r, SUM(q.cnt) AS c
         FROM (SELECT cnt, UNNEST(list_transform(range(1, len(syms)),
                 j -> {{'l': syms[j], 'r': syms[j + 1]}})) AS pr
               FROM v{r - 1} WHERE len(syms) >= 2) q
         GROUP BY 1, 2),
b{r} AS MATERIALIZED (
  (SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1)
  UNION ALL
  (SELECT chr(30), chr(30), 0 WHERE (SELECT COUNT(*) FROM p{r}) = 0))"""
            # the learn view drops the final round's merged vocab (feeds
            # nothing); the apply view NEEDS v{N} — it IS the tokenizer
            if r < BPE_N_MERGES or include_final_vocab:
                rounds += f""",
v{r} AS MATERIALIZED (SELECT word, cnt, {_bpe_fold} AS syms
                      FROM v{r - 1} CROSS JOIN b{r} b)"""
        return rounds

    _bpe_rounds = _bpe_round_ctes(include_final_vocab=False)
    _bpe_union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, l AS merge_left, "
        f"r AS merge_right, l || r AS merged, CAST(c AS BIGINT) AS pair_count "
        f"FROM b{r} WHERE l <> chr(30)"  # drop exhaustion sentinels
        for r in range(1, BPE_N_MERGES + 1)
    )
    sql["doc_bpe_learn_merges"] = f"""
WITH w AS (SELECT UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+')) AS word
           FROM documents),
v0 AS MATERIALIZED (SELECT word, COUNT(*) AS cnt, string_split(word, '') AS syms
                    FROM w GROUP BY word){_bpe_rounds}
{_bpe_union}
"""

    # BPE APPLICATION: the same independently-recomputed learner chain,
    # extended with the final vocab re-segmentation (v{N} — the tokenizer
    # itself), joined back to the corpus for per-doc token counts.  The
    # Spark side segments only the distinct-word table and joins; the
    # oracle's v-chain is already exactly that table, so the join shape
    # matches by construction.
    sql["doc_bpe_apply"] = f"""
WITH w AS (SELECT UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+')) AS word
           FROM documents),
v0 AS MATERIALIZED (SELECT word, COUNT(*) AS cnt, string_split(word, '') AS syms
                    FROM w GROUP BY word){_bpe_round_ctes(include_final_vocab=True)},
m AS (SELECT word, len(syms) AS n_bpe FROM v{BPE_N_MERGES}),
tok AS (SELECT doc_id,
               UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+')) AS word
        FROM documents),
dw AS (SELECT doc_id, word, COUNT(*) AS n_occ FROM tok GROUP BY 1, 2),
per AS (SELECT dw.doc_id,
               SUM(dw.n_occ) AS n_words,
               SUM(dw.n_occ * LENGTH(dw.word)) AS n_syms,
               SUM(dw.n_occ * m.n_bpe) AS n_bpe_tokens
        FROM dw JOIN m USING (word) GROUP BY dw.doc_id)
SELECT d.doc_id,
  CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
  CAST(COALESCE(per.n_syms, 0) AS BIGINT) AS n_syms,
  CAST(COALESCE(per.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
  CAST(COALESCE(per.n_syms, 0) - COALESCE(per.n_bpe_tokens, 0) AS BIGINT)
    AS tokens_saved
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""

    # ---- round 7: the LEARNED quality filter (CCNet/fastText shape) —
    # NB-family posterior votes over hashed token buckets, trained on the
    # heuristic quality band (the EXACT doc_quality_score `keep` float
    # expression, reused verbatim so the label agrees bit-for-bit), pure
    # integer weights w_b = ((c_hi+1)·S) div (c_hi+c_lo+2).  lab and bk
    # are each referenced twice → MATERIALIZED (the CTE-inlining lesson).
    from ..functions.text import NB_BUCKETS, NB_SCALE

    _nb_keep = """(least(length / 500.0, 1.0) * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3
      + (1.0 - least(digit_ratio * 10.0, 1.0)) * 0.15
      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.15) >= 0.5"""
    _nb_score_sql = f"""
WITH s AS (
  SELECT doc_id, text,
    CAST(({stop_hits}) AS DOUBLE) / {ntok} AS stop_ratio,
    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / LENGTH(text) AS digit_ratio,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
    CAST(LENGTH(text) AS DOUBLE) AS length
  FROM documents
),
lab AS MATERIALIZED (
  SELECT doc_id, text, {_nb_keep} AS label_hi FROM s
),
tk AS (SELECT doc_id, label_hi,
              unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       FROM lab),
bk AS MATERIALIZED (
  SELECT doc_id, label_hi, ({_POLY.format(col='tok')}) % {NB_BUCKETS} AS b
  FROM tk
),
w AS (SELECT b,
             ((SUM(CASE WHEN label_hi THEN 1 ELSE 0 END) + 1) * {NB_SCALE})
               // (COUNT(*) + 2) AS w
      FROM bk GROUP BY b),
sc AS (SELECT bk.doc_id, COUNT(*) AS n_tok, SUM(w.w) AS score
       FROM bk JOIN w USING (b) GROUP BY bk.doc_id),
sr AS MATERIALIZED (
  SELECT l.doc_id, l.label_hi,
         COALESCE(sc.n_tok, 0) AS n_tok,
         COALESCE(sc.score, 0) AS score,
         COALESCE(sc.score, 0) // greatest(COALESCE(sc.n_tok, 0), 1) AS r
  FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id
),
tau AS (
  SELECT ((COALESCE(SUM(CASE WHEN label_hi AND n_tok > 0 THEN r END), 0)
             // greatest(SUM(CASE WHEN label_hi AND n_tok > 0 THEN 1 ELSE 0 END), 1))
        + (COALESCE(SUM(CASE WHEN NOT label_hi AND n_tok > 0 THEN r END), 0)
             // greatest(SUM(CASE WHEN NOT label_hi AND n_tok > 0 THEN 1 ELSE 0 END), 1))) // 2 AS tau
  FROM sr
)
SELECT sr.doc_id, sr.label_hi,
  CAST(sr.n_tok AS BIGINT) AS n_tok,
  CAST(sr.score AS BIGINT) AS nb_score_scaled,
  CAST(sr.r AS BIGINT) AS rate_scaled,
  (sr.n_tok > 0 AND sr.r > tau.tau) AS pred_hi
FROM sr CROSS JOIN tau"""
    sql["doc_nb_quality_score"] = _nb_score_sql

    sql["doc_nb_quality_confusion"] = f"""
WITH nb AS MATERIALIZED ({_nb_score_sql}),
c AS (SELECT label_hi, pred_hi, COUNT(*) AS n_docs FROM nb GROUP BY 1, 2)
SELECT label_hi, pred_hi, CAST(n_docs AS BIGINT) AS n_docs,
       CAST((n_docs * {NB_SCALE}) // SUM(n_docs) OVER () AS BIGINT) AS pct_scaled
FROM c
"""

    # ---- round 7: domain-mixture sampling.  The oracle's per-domain
    # cumsum is the plain partitioned window (SQL-natural); the Spark
    # side computes the same values through the distributed prefix-sum
    # minus broadcast domain offsets — equality holds because the global
    # (domain, h, doc_id) order nests the per-domain orders exactly.
    # √T_d is the gate-proven CEIL(SQRT(CAST AS DOUBLE)) formula.
    from ..functions.text import MIX_BUDGET_DEN

    # shared √-temperature quota CTEs (mirrors functions/text._quota_prefix)
    _quota_ctes = f"""tot AS MATERIALIZED (
  SELECT domain, SUM(n_tok) AS t_dom,
         CAST(CEIL(SQRT(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w_dom
  FROM base GROUP BY domain
),
q AS (
  SELECT domain,
         ((SUM(t_dom) OVER () // {MIX_BUDGET_DEN}) * w_dom)
           // SUM(w_dom) OVER () AS quota_tok
  FROM tot
),"""

    sql["doc_sample_mixture"] = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, lang AS domain, CAST({ntok} AS BIGINT) AS n_tok,
         {_POLY.format(col='text')} AS h
  FROM documents
),
{_quota_ctes}
c AS (
  SELECT doc_id, domain, n_tok,
         SUM(n_tok) OVER (PARTITION BY domain ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_dom
  FROM base
)
SELECT c.doc_id, c.domain, CAST(c.n_tok AS BIGINT) AS n_tok,
       CAST(c.cum_dom AS BIGINT) AS cum_dom_tok,
       CAST(q.quota_tok AS BIGINT) AS quota_tok,
       (c.cum_dom <= q.quota_tok) AS keep
FROM c JOIN q USING (domain)
"""

    # quality-weighted variant: identical quota arithmetic, but the
    # per-domain prefix fills by the learned NB evidence rate (DESC,
    # doc_id tie-break) — the Spark side orders the ONE global scan by
    # (domain, -rate, doc_id), the same total order.
    sql["doc_sample_quality"] = f"""
WITH nb AS MATERIALIZED ({_nb_score_sql}),
base AS MATERIALIZED (
  SELECT d.doc_id, d.lang AS domain, CAST({ntok.replace('text', 'd.text')} AS BIGINT) AS n_tok,
         nb.rate_scaled AS r
  FROM documents d JOIN nb ON d.doc_id = nb.doc_id
),
{_quota_ctes}
c AS (
  SELECT doc_id, domain, n_tok, r,
         SUM(n_tok) OVER (PARTITION BY domain ORDER BY r DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_dom
  FROM base
)
SELECT c.doc_id, c.domain, CAST(c.n_tok AS BIGINT) AS n_tok,
       CAST(c.r AS BIGINT) AS rate_scaled,
       CAST(c.cum_dom AS BIGINT) AS cum_dom_tok,
       CAST(q.quota_tok AS BIGINT) AS quota_tok,
       (c.cum_dom <= q.quota_tok) AS keep
FROM c JOIN q USING (domain)
"""
    return sql
