"""The extraction operator — Spark-first orchestration of the kernel chain.

Architecture (SURVEY.md §3.1 ⇒ Spark):

- **Cheap predicates stay in Catalyst.**  Payload kind and the F1 skip-det
  gate (h <= min_height ∨ w/h > width_height_ratio,
  /root/reference/python/rapidocr_onnxruntime/rapid_ocr_api.py:69-77) are
  computed from the ``bitmap:HxW:`` prefix with built-in expressions —
  no decode, no Python — so Catalyst can prune/route before any UDF runs.
- **``plain:`` payloads never enter Python at all**: their normalisation is
  a pure column expression (split/trim/filter/array_join), whole-stage
  codegen end to end.
- **``html:``/``bitmap:`` payloads run through ONE fused Arrow-batched
  ``mapInPandas`` stage** covering det→order→crop→cls→rec→filter, so the
  positional zips J1–J3 never cross a partition boundary and there are
  zero shuffles between det, cls and rec (the reference's in-process
  boundary moves to Spark's shuffle edges, SURVEY.md §3.1).
- **One explicit-count spread in front of that stage** defuses
  long-conversation skew: the heavy rows are hash-repartitioned on
  ``(conv_id, turn_idx)`` to the session's parallelism
  (``io.spread.spread``) every time.  Per-turn work is independent, so one
  conversation's turns may land on every core; conversation-level
  assembly re-groups afterwards (SURVEY.md §4).  The count is explicit
  because AQE coalesces a keys-only repartition by bytes, and a few KB of
  bitmap turns are seconds of OCR.
- **The heavy branch comes first in the union.**  A union numbers its
  partitions branch by branch and the scheduler launches tasks in
  partition order, so the branch listed first gets the cores first.  The
  Python tasks are the long ones and bound the stage; listed first they
  launch at job start, and the short ``plain:`` tasks fill the cores as
  heavy tasks finish.  Listed second, they could not launch until the
  plain tasks had released the cores, and the stage ran the two sets
  back to back.  Do not reorder the union.
- **Per-executor session cache**: the inference session (synthetic nets
  or models from the broadcast bytes) is built once per (config,
  broadcast) per Python worker by ``kernels.session.session_for`` — the
  analog of the reference's lru_cache model registry
  (ocrweb_multi/rapidocr/main.py:15-19).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..io.spread import spread

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("box", ArrayType(ArrayType(DoubleType()))),
            StructField("text", StringType()),
            StructField("score", DoubleType()),
            # populated when cfg.rec_char_scores (null otherwise) — the
            # .NET per-char confidence surface (OcrResult.cs:41-68)
            StructField("char_scores", ArrayType(DoubleType())),
        ]
    )
)

RESULT_FIELDS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("tool", StringType()),
        StructField("kind", StringType()),
        StructField("skip_det", StringType()),  # 'det' | 'skip' | '' — lineage of the F1 route
        StructField("spans", SPAN_TYPE),
        StructField("extracted_text", StringType()),
        StructField("n_boxes", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("error", StringType()),
    ]
)

def payload_kind_col(text: Column) -> Column:
    """Routing tag computed Catalyst-side (mirrors kernels.codec.payload_kind)."""
    return (
        F.when(text.isNull(), F.lit("invalid"))
        .when(text.startswith("bitmap:"), F.lit("bitmap"))
        .when(text.startswith("html:"), F.lit("html"))
        .when(text.startswith("pdf:"), F.lit("pdf"))
        .when(text.startswith("plain:"), F.lit("plain"))
        # bare-base64 real image containers (S3 ingest) by base64 magic:
        # PNG \x89PNG → iVBOR, JPEG \xff\xd8\xff → /9j/, GIF8 → R0lGOD
        .when(
            text.startswith("iVBOR") | text.startswith("/9j/") | text.startswith("R0lGOD"),
            F.lit("image"),
        )
        .otherwise(F.lit("invalid"))
    )


def skip_det_col(text: Column, cfg: PipelineConfig) -> Column:
    """F1 gate as a pure column expression over the ``bitmap:HxW:`` prefix —
    the reference's cheap-predicate short-circuit, pushed in front of the
    expensive stage (rapid_ocr_api.py:69-77)."""
    h = F.regexp_extract(text, r"^bitmap:(\d+)x(\d+):", 1).try_cast("int")
    w = F.regexp_extract(text, r"^bitmap:(\d+)x(\d+):", 2).try_cast("int")
    gate = (
        (~F.lit(cfg.use_det))
        | (h <= F.lit(cfg.min_height))
        | (
            F.lit(cfg.width_height_ratio != -1)
            & (w.cast("double") / h.cast("double") > F.lit(float(cfg.width_height_ratio)))
        )
    )
    return F.when(h.isNull(), F.lit("")).otherwise(F.when(gate, F.lit("skip")).otherwise(F.lit("det")))


def _heavy_stage(cfg: PipelineConfig, model_bc=None):
    """Build the fused mapInPandas function for html/bitmap/invalid rows.
    ``model_bc``: optional Spark broadcast of model bytes (onnx backends)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.oracle import extract_turn
        from ..kernels.session import session_for

        sess = session_for(cfg, model_bc)
        for pdf in batches:
            if pdf.empty:
                continue
            results = [extract_turn(t, cfg, session=sess) for t in pdf["text"]]
            out = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].values,
                    "role": pdf["role"].values,
                    "tool": pdf["tool"].values,
                    "kind": pdf["kind"].values,
                    "skip_det": pdf["skip_det"].values,
                    "spans": [r["spans"] for r in results],
                    "extracted_text": [r["extracted_text"] for r in results],
                    "n_boxes": [r["n_boxes"] for r in results],
                    "n_chars": [r["n_chars"] for r in results],
                    "error": [r["error"] for r in results],
                }
            )
            yield out

    return run


def extract_transcripts(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    model_bytes: bytes | dict[str, bytes] | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    results, one row per turn.  See module docstring for the plan shape.

    ``plain:`` turns stay where the input put them.  Every other turn
    crosses one exchange on ``(conv_id, turn_idx)`` with an explicit
    partition count before the fused kernel stage, whatever the input's
    placement: a source clustered by conversation (one file or partition
    holding a giant conversation) and a well-split scan take the same
    plan.  The exchange moves the heavy rows' payload bytes once;
    CHANGES.md records what that costs on a well-split input and what it
    saves on a clustered one."""
    tagged = df.withColumn("kind", payload_kind_col(F.col("text"))).withColumn(
        "skip_det", skip_det_col(F.col("text"), cfg)
    )

    # ---- light route: plain payloads, pure Catalyst expressions ----------
    plain = tagged.where(F.col("kind") == "plain")
    body = F.expr("substring(text, 7, length(text))")
    lines = F.filter(
        F.transform(F.split(body, "\n"), lambda s: F.trim(s)), lambda s: s != ""
    )
    extracted = F.array_join(lines, "\n")
    plain_out = plain.select(
        "conv_id", "turn_idx", "role", "tool", "kind", "skip_det",
        F.lit(None).cast(SPAN_TYPE).alias("spans"),
        extracted.alias("extracted_text"),
        F.lit(0).alias("n_boxes"),
        F.length(extracted).alias("n_chars"),
        F.lit(None).cast("string").alias("error"),
    ).withColumn("spans", F.array().cast(SPAN_TYPE))

    # ---- heavy route: html/bitmap/invalid through the fused kernel stage --
    heavy = tagged.where(F.col("kind") != "plain").select(
        "conv_id", "turn_idx", "role", "tool", "kind", "skip_det", "text"
    )
    model_bc = (
        df.sparkSession.sparkContext.broadcast(model_bytes)
        if model_bytes is not None
        else None
    )
    heavy_out = spread(heavy, "conv_id", "turn_idx").mapInPandas(_heavy_stage(cfg, model_bc), schema=RESULT_FIELDS)

    # heavy branch FIRST so the Python tasks launch at job start (module
    # docstring) — do not reorder
    return heavy_out.unionByName(plain_out.select([f.name for f in RESULT_FIELDS.fields]))


def extract_transcripts_multilang(
    df: DataFrame,
    configs: dict[str, PipelineConfig],
    lang_col: str = "lang",
    default: PipelineConfig | None = None,
    **kw,
) -> DataFrame:
    """J4 per-language model registry binding: each language's turns run
    through the fused kernel stage under THAT language's config — the
    engine analog of ocrweb_multi's lang→model map (config.yaml:72-104,
    rapidocr/main.py:15-19 ``get_engine(lang)`` lru_cache).

    Plan shape: one union of per-language branches over the same scan;
    Catalyst pushes each branch's equality filter to the source, and the
    per-executor session cache (kernels.session.session_for) ends up
    holding one session per distinct config — sessions bind to languages
    exactly once per executor.
    Rows whose language has no binding run under ``default`` (tagged
    'other') or are dropped if no default is given."""
    branches: list[DataFrame] = []
    langs = sorted(configs)
    for lang in langs:
        sub = df.where(F.col(lang_col) == lang)
        branches.append(
            extract_transcripts(sub, configs[lang], **kw).withColumn("lang", F.lit(lang))
        )
    if default is not None:
        rest = df.where(~F.col(lang_col).isin(langs) | F.col(lang_col).isNull())
        branches.append(
            extract_transcripts(rest, default, **kw).withColumn("lang", F.lit("other"))
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def assemble_conversations(results: DataFrame) -> DataFrame:
    """Conversation-level assembly: turns joined in stable (conv_id,
    turn_idx) window order (W2) — extracted texts concatenated by '\n\n'.
    Re-groups what the spread scattered; one shuffle on conv_id."""
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col("extracted_text")))
    )
    return (
        results.where(F.col("extracted_text").isNotNull())
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(ordered, lambda s: s["extracted_text"]), "\n\n"
            ).alias("conversation_text"),
            F.count(F.lit(1)).cast("int").alias("n_turns"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
