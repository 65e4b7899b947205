"""Per-turn extraction — the full kernel chain, single-node.

Mirrors RapidOCR.__call__ end-to-end
(/root/reference/python/rapidocr_onnxruntime/rapid_ocr_api.py:56-107):

    load → F1 gate (skip det when h <= min_height or w/h >
    width_height_ratio or use_det=False; substitute the whole-image box) →
    det → F2 empty short-circuit → W1 sorted_boxes → K7 crops → cls (F8
    rotate gate) → rec (K10 CTC) → F7 text_score filter → assembled result.

Plus the two payload kinds the north rule adds: ``html:`` (DOM-heuristic
boilerplate strip) and ``plain:`` (normalised passthrough).  The same
function is the single-node ORACLE for tests and the per-batch kernel the
Spark ``mapInPandas`` stage applies — distribution must be invisible.

Result contract per turn (None/None on no result, like the reference):
    spans: list[{box: [[x,y]×4], text: str, score: float}] | None
    extracted_text: '\n'-joined span texts (reading order) | None
    n_boxes, n_chars: ints; error: str | None
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..config import DEFAULT_CONFIG, PipelineConfig
from . import cls as cls_kernel
from . import rec as rec_kernel
from .codec import (
    LoadImageError, decode_bitmap, decode_image_payload, payload_kind,
)
from .crop import crop_quad, whole_image_box
from .det import detect, sorted_boxes
from .html_extract import extract_main_content


def _result(
    spans: list[dict[str, Any]] | None,
    extracted: str | None,
    error: str | None = None,
) -> dict[str, Any]:
    return {
        "spans": spans,
        "extracted_text": extracted,
        "n_boxes": len(spans) if spans is not None else 0,
        "n_chars": len(extracted) if extracted is not None else 0,
        "error": error,
    }


def extract_plain(payload_body: str) -> str:
    """Normalised passthrough: non-empty stripped lines joined by '\n'.

    Must stay expression-equivalent to the Catalyst-side route in
    operators/extract.py (plain payloads never enter Python) — hence
    strip(' ') exactly like Spark's trim(), which removes spaces only."""
    return "\n".join(
        s.strip(" ") for s in payload_body.split("\n") if s.strip(" ")
    )


def extract_bitmap(
    img: np.ndarray, cfg: PipelineConfig, session=None
) -> dict[str, Any]:
    """det→cls→rec over one decoded bitmap (rapid_ocr_api.py:67-107).

    ``session`` supplies the det prob map and the cls/rec probability
    tensors (kernels/session.py); each stage resolves ``None`` through
    ``session_for(cfg)``, so the eager path follows ``cfg.backend``."""
    h, w = img.shape[:2]
    use_limit_ratio = (
        cfg.width_height_ratio != -1 and w / h > cfg.width_height_ratio
    )
    if not cfg.use_det or h <= cfg.min_height or use_limit_ratio:  # F1
        dt_boxes = whole_image_box(img)[np.newaxis, ...]
        crops = [img]
    else:
        # K13 MakePadding (OcrLite.cs:40-61 / OcrLite.cpp:59-84): the
        # WHOLE det→crop chain runs on the padded image (near-edge boxes
        # unclip without hitting the F9 canvas clip), crops are taken in
        # padded coordinates, and only the REPORTED boxes translate back
        # by −padding without clipping (OcrLite.cpp:172-184 — coords may
        # go negative).  Background pad value is 0 (the engine's ink
        # convention; the reference pads white on white-background mats).
        pad = max(0, int(cfg.det_padding))
        det_img = np.pad(img, pad, mode="constant") if pad else img
        dt_boxes = detect(det_img, cfg, session=session)
        if dt_boxes.shape[0] < 1:  # F2
            return _result(None, None)
        dt_boxes = sorted_boxes(dt_boxes)  # W1
        crops = [crop_quad(det_img, b) for b in dt_boxes]
        if pad:
            dt_boxes = dt_boxes - float(pad)
    if cfg.use_cls:
        crops, _cls_res = cls_kernel.classify_and_rotate(crops, cfg, session=session)
    rec_res = rec_kernel.recognize(crops, cfg, session=session) if cfg.use_rec else [
        ("", 0.0)
    ] * len(crops)
    spans = [
        {
            "box": [[float(x), float(y)] for x, y in box.tolist()],
            "text": r[0],
            "score": float(r[1]),
            # per-char confidences when cfg.rec_char_scores (triple tuples)
            "char_scores": list(r[2]) if len(r) > 2 else None,
        }
        for box, r in zip(dt_boxes, rec_res)
        if r[1] >= cfg.text_score  # F7
    ]
    if not spans:
        return _result(None, None)
    extracted = "\n".join(s["text"] for s in spans)  # StrRes assembly
    return _result(spans, extracted)


def extract_turn(
    payload: str | None, cfg: PipelineConfig = DEFAULT_CONFIG, session=None
) -> dict[str, Any]:
    """One transcript turn's text payload → extraction result dict."""
    kind = payload_kind(payload)
    if kind == "invalid":
        return _result(None, None, error="LoadImageError: unrecognised payload")
    if kind == "plain":
        return _result([], extract_plain(payload[len("plain:") :]))
    if kind == "html":
        return _result([], extract_main_content(payload[len("html:") :]))
    if kind == "pdf":
        from .pdf_extract import extract_pdf_layout

        return _result([], extract_pdf_layout(payload[len("pdf:") :]))
    try:
        if kind == "image":  # S3 base64 ingest of a real container format
            img = decode_image_payload(payload)
        else:
            img = decode_bitmap(payload)
    except LoadImageError as exc:
        return _result(None, None, error=f"LoadImageError: {exc}")
    return extract_bitmap(img, cfg, session=session)
