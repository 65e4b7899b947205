"""Expected-result fixture corpus — the driver oracle for the kernel chain.

The det→cls→rec extraction is not SQL-expressible, so its DuckDB oracle is
built the way the reference's own test suite gates results: precomputed
exact expectations (/root/reference/python/tests/test_all_ort.py:22-27
asserts literal strings per image).  Because the transcript corpus is a
pure function of (SEED, conv_idx, turn_idx) (sources/transcripts.py), we
materialise, once, the corpus's expected per-turn extraction — computed by
the EAGER single-node oracle kernel (kernels/oracle.py), which tests
enforce equal to the Spark path per turn — to a parquet file committed
under fixtures/.  The driver's DuckDB oracle is then a plain SELECT over
those expected columns, while the Spark side recomputes the extraction
live through the distributed operator: the gate genuinely certifies that
the distributed det→cls→rec chain reproduces the known answers.

``scripts/make_fixtures.py`` (re)generates the files; a staleness test
(tests/test_fixture_oracle.py) recomputes a sample and compares against the
committed parquet so kernel changes can never silently invalidate it.
"""

from __future__ import annotations

import re

import pandas as pd

from ..config import PipelineConfig
from ..kernels.codec import payload_kind
from ..kernels.oracle import extract_turn
from .transcripts import transcripts_pandas

# the driver gate (sf0.001 entry smoke + sf0.01 correctness pass) always
# resolves to this corpus size — see plans.shell._n_convs_for
N_FIXTURE_CONVS = 20

TURNS_FIXTURE = "expected_turns_c20.parquet"
CONVS_FIXTURE = "expected_convs_c20.parquet"
MULTILANG_FIXTURE = "expected_multilang_c20.parquet"
CHAR_SCORES_FIXTURE = "expected_char_scores_c20.parquet"


def lang_for_conv(conv_idx: int) -> str:
    """Deterministic language tag (J4 routing key): even convs 'en', odd
    'zh' — mirrored Catalyst-side in plans.shell.x_extract_multilang."""
    return "en" if conv_idx % 2 == 0 else "zh"


def multilang_configs(cfg: PipelineConfig) -> dict[str, PipelineConfig]:
    """The per-language model-registry binding under test: 'zh' runs with
    use_cls=False, so 180°-rotated bitmaps are NOT orientation-corrected under
    that binding — a real behavioural difference that the fixture oracle
    pins down (the analog of ocrweb_multi's lang→model map)."""
    return {"en": cfg, "zh": cfg.replace(use_cls=False)}

_BITMAP_DIMS = re.compile(r"^bitmap:(\d+)x(\d+):")


def skip_det_tag(payload: str | None, cfg: PipelineConfig) -> str:
    """Python mirror of operators.extract.skip_det_col (the F1 gate tag,
    computed from the declared ``bitmap:HxW:`` prefix, decode-free)."""
    m = _BITMAP_DIMS.match(payload or "")
    if not m:
        return ""
    h, w = int(m.group(1)), int(m.group(2))
    gate = (
        (not cfg.use_det)
        or h <= cfg.min_height
        or (cfg.width_height_ratio != -1 and w / h > cfg.width_height_ratio)
    )
    return "skip" if gate else "det"


def expected_turns_pandas(n_convs: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Per-turn expected extraction results, eager oracle path."""
    base = transcripts_pandas(n_convs)
    rows = []
    for r in base.itertuples(index=False):
        res = extract_turn(r.text, cfg)
        rows.append(
            {
                "conv_id": r.conv_id,
                "turn_idx": r.turn_idx,
                "kind": payload_kind(r.text),
                "skip_det": skip_det_tag(r.text, cfg),
                "extracted_text": res["extracted_text"],
                "n_boxes": res["n_boxes"],
                "n_chars": res["n_chars"],
                "error": res["error"],
            }
        )
    out = pd.DataFrame(rows)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["n_boxes"] = out["n_boxes"].astype("int32")
    out["n_chars"] = out["n_chars"].astype("int32")
    return out


def expected_multilang_pandas(n_convs: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Per-turn expected extraction under the per-language config map —
    the eager mirror of operators.extract.extract_transcripts_multilang
    over the lang_for_conv tagging."""
    configs = multilang_configs(cfg)
    base = transcripts_pandas(n_convs)
    rows = []
    for r in base.itertuples(index=False):
        conv_idx = int(str(r.conv_id)[4:])
        lang = lang_for_conv(conv_idx)
        res = extract_turn(r.text, configs[lang])
        rows.append(
            {
                "conv_id": r.conv_id,
                "turn_idx": r.turn_idx,
                "lang": lang,
                "kind": payload_kind(r.text),
                "extracted_text": res["extracted_text"],
                "n_boxes": res["n_boxes"],
                "n_chars": res["n_chars"],
                "error": res["error"],
            }
        )
    out = pd.DataFrame(rows)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["n_boxes"] = out["n_boxes"].astype("int32")
    out["n_chars"] = out["n_chars"].astype("int32")
    return out


def expected_char_scores_pandas(n_convs: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Per-SPAN expected char-score aggregates under rec_char_scores=True —
    the eager mirror of plans.shell.x_extract_char_scores.  min/max are
    order-independent; rounding is HALF_UP over repr to match Spark/DuckDB
    double rounding (CLAUDE.md invariant)."""
    from ..sources.media import _r6

    cs_cfg = cfg.replace(rec_char_scores=True)
    base = transcripts_pandas(n_convs)
    rows = []
    for r in base.itertuples(index=False):
        res = extract_turn(r.text, cs_cfg)
        if not res["spans"]:
            continue
        for span_idx, span in enumerate(res["spans"]):
            cs = span.get("char_scores")
            if cs is None:
                continue
            rows.append(
                {
                    "conv_id": r.conv_id,
                    "turn_idx": r.turn_idx,
                    "span_idx": span_idx,
                    "n_chars": len(cs),
                    "min_cs": _r6(min(cs)),
                    "max_cs": _r6(max(cs)),
                }
            )
    out = pd.DataFrame(rows)
    for c in ("turn_idx", "span_idx", "n_chars"):
        out[c] = out[c].astype("int32")
    return out


# ---------------------------------------------------------------------------
# Single-turn gate corpora: one conversation per id, ``{prefix}{idx:04d}``,
# turn 0, ``payload(idx)`` as its text (the mostAngle and padded corpora).


def single_turn_df(spark, n: int, prefix: str, payload):
    """Distributed generation of ids 0..n-1 (one task per id range, like
    sources/media.py)."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    {
                        "conv_id": f"{prefix}{idx:04d}",
                        "turn_idx": 0,
                        "role": "user",
                        "text": payload(idx),
                        "tool": "",
                        "ts": pd.Timestamp("2026-01-01"),
                    }
                    for idx in map(int, pdf["id"])
                ]
            )

    n_parts = max(1, min(n, int(spark.sparkContext.defaultParallelism)))
    return spark.range(0, n, numPartitions=n_parts).mapInPandas(
        gen, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


# ---------------------------------------------------------------------------
# A4 mostAngle gate corpus (round 5): bitmaps with MIXED per-line
# orientations, where the batch-majority override (cls_most_angle=True,
# dotnet OcrLib/AngleNet.cs:74-97) produces a DIFFERENT extraction than
# the per-crop F8 path — the fixture pins the knob actually biting.

N_FIXTURE_MOSTANGLE = 24
MOSTANGLE_FIXTURE = "expected_mostangle_c24.parquet"


def mostangle_payload(idx: int) -> str:
    """One mixed-orientation bitmap: 2-4 rendered lines on one canvas,
    the first ``idx % (k+1)`` of them 180°-flipped in place.  Composed by
    vstacking single-line renders at a shared width (each part carries
    8px margins, so inter-line gaps are 16px = LINE_GAP and detection
    sees independent lines)."""
    import numpy as np

    from ..kernels.codec import encode_bitmap
    from ..kernels.font import CELL_W
    from ..kernels.render import render_lines
    from .transcripts import _rand_line, _rng

    rng = _rng("mostangle", idx)
    k = int(rng.integers(2, 5))
    lines = [_rand_line(rng, lo=3, hi=10) for _ in range(k)]
    n_flip = idx % (k + 1)
    w = max(len(ln) for ln in lines) * CELL_W - 1 + 16
    parts = [
        render_lines([ln], rotate180=(j < n_flip), min_width=w)
        for j, ln in enumerate(lines)
    ]
    return encode_bitmap(np.vstack(parts))


def expected_mostangle_pandas(n: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Eager oracle over the mostAngle corpus under cls_most_angle=True,
    plus the per-crop twin columns — generation asserts the knob BITES
    (at least one turn extracts differently under the majority override),
    so a fixture where the knob is a no-op cannot be committed."""
    ma_cfg = cfg.replace(cls_most_angle=True)
    rows = []
    n_diff = 0
    for idx in range(n):
        payload = mostangle_payload(idx)
        res = extract_turn(payload, ma_cfg)
        base = extract_turn(payload, cfg)
        if res["extracted_text"] != base["extracted_text"]:
            n_diff += 1
        rows.append(
            {
                "conv_id": f"ma{idx:04d}",
                "turn_idx": 0,
                "extracted_text": res["extracted_text"],
                "n_boxes": res["n_boxes"],
                "n_chars": res["n_chars"],
                "error": res["error"],
            }
        )
    if n_diff == 0:
        raise AssertionError(
            "mostAngle fixture corpus never diverges from the per-crop "
            "path — the knob is not being exercised"
        )
    out = pd.DataFrame(rows)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["n_boxes"] = out["n_boxes"].astype("int32")
    out["n_chars"] = out["n_chars"].astype("int32")
    # all-None object column would parquet as float64 NaN — pin VARCHAR
    out["error"] = out["error"].astype("string")
    return out


# ---------------------------------------------------------------------------
# K13 MakePadding gate corpus (round 5): tight-margin bitmaps whose ink
# sits close to the canvas border, so the unclip expansion hits the F9
# canvas clip WITHOUT padding and expands freely WITH it — reported box
# corners go negative after the −padding translation (OcrLite.cpp:175),
# pinning the knob biting.

N_FIXTURE_PADDED = 16
PADDED_FIXTURE = "expected_padded_c16.parquet"
PADDING_GATE = 12  # > the ≈9px max unclip reach at these line widths


def padded_payload(idx: int) -> str:
    """2-3 rendered lines at margin=2 (ink near the border)."""
    from ..kernels.codec import encode_bitmap
    from ..kernels.render import render_lines
    from .transcripts import _rand_line, _rng

    rng = _rng("padded", idx)
    k = int(rng.integers(2, 4))
    lines = [_rand_line(rng, lo=3, hi=10) for _ in range(k)]
    return encode_bitmap(render_lines(lines, margin=2))


def _r2(x: float) -> float:
    """Spark-compatible round(x, 2) — HALF_UP over repr, like media._r6
    (Python round() is HALF_EVEN; the CLAUDE.md rounding invariant)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _span_rows(conv_id: str, res: dict) -> list[dict]:
    rows = []
    for span_idx, span in enumerate(res["spans"] or []):
        x0, y0 = span["box"][0]
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": 0,
                "span_idx": span_idx,
                "x0": _r2(x0),
                "y0": _r2(y0),
                "text": span["text"],
            }
        )
    return rows


def expected_padded_pandas(n: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Eager oracle over the padded corpus under det_padding=PADDING_GATE,
    one row per span with the REPORTED (translated-back) top-left corner —
    generation asserts the knob bites (≥1 span's corner or text differs
    from the unpadded run, and ≥1 padded corner is negative, the
    OcrLite.cpp:175 no-clip contract)."""
    pad_cfg = cfg.replace(det_padding=PADDING_GATE)
    rows: list[dict] = []
    n_diff = 0
    n_neg = 0
    for idx in range(n):
        payload = padded_payload(idx)
        res = extract_turn(payload, pad_cfg)
        base = extract_turn(payload, cfg)
        r_p = _span_rows(f"pd{idx:04d}", res)
        r_b = _span_rows(f"pd{idx:04d}", base)
        if r_p != r_b:
            n_diff += 1
        n_neg += sum(1 for r in r_p if r["x0"] < 0 or r["y0"] < 0)
        rows.extend(r_p)
    if n_diff == 0 or n_neg == 0:
        raise AssertionError(
            f"MakePadding fixture corpus does not exercise the knob "
            f"(n_diff={n_diff}, n_negative_corners={n_neg})"
        )
    out = pd.DataFrame(rows)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    out["span_idx"] = out["span_idx"].astype("int32")
    return out


# ---------------------------------------------------------------------------
# S10 visual debug sink fixture (round 5): exact pixel sums + PNG sink
# byte lengths of the side-by-side debug canvas (kernels/vis.py).

VIS_FIXTURE = "expected_vis_c20.parquet"


def expected_vis_pandas(n_convs: int, cfg: PipelineConfig) -> pd.DataFrame:
    """Eager mirror of the x_vis_boxes operator: one row per drawable turn
    (bitmap/image kind with ≥1 span) with the vis canvas dims, drawn-box
    count, exact pixel sum, and encoded-PNG byte length."""
    from ..kernels.vis import vis_turn

    base = transcripts_pandas(n_convs)
    rows = []
    for r in base.itertuples(index=False):
        stats = vis_turn(r.text, cfg)
        if stats is None:
            continue
        rows.append({"conv_id": r.conv_id, "turn_idx": r.turn_idx, **stats})
    out = pd.DataFrame(rows)
    for c in ("turn_idx", "vis_h", "vis_w", "n_drawn", "png_len"):
        out[c] = out[c].astype("int32")
    out["px_sum"] = out["px_sum"].astype("int64")
    return out


def expected_convs_pandas(turns: pd.DataFrame) -> pd.DataFrame:
    """Mirror of operators.extract.assemble_conversations over the
    expected per-turn frame: non-null texts, stable turn order, '\\n\\n'."""
    kept = turns[turns["extracted_text"].notna()].sort_values(
        ["conv_id", "turn_idx"]
    )
    grouped = kept.groupby("conv_id", sort=True)
    out = pd.DataFrame(
        {
            "conv_id": list(grouped.groups.keys()),
            "conversation_text": grouped["extracted_text"].apply("\n\n".join).values,
            "n_turns": grouped.size().astype("int32").values,
            "n_chars": grouped["n_chars"].sum().astype("int64").values,
        }
    )
    return out.reset_index(drop=True)
