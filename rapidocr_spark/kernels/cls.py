"""Orientation classifier kernel — the cls stage.

Faithful control flow of the reference's TextClassifier
(/root/reference/python/rapidocr_onnxruntime/ch_ppocr_v2_cls/text_cls.py:37-74):
aspect-ratio argsort, mini-batches of cls_batch_num, argmax post-process
over label_list ('0','180') (K11, ch_ppocr_v2_cls/utils.py:14-29), and the
F8 gate — rotate 180° only when label=='180' AND score > cls_thresh(0.9),
via K12 rotate180.

The "network" is a session's ``cls_probs`` head (kernels/session.py).  The
synthetic net is ``classify_crop``: rendered lines carry a full-width
baseline (underline) row below the glyphs, so orientation is the sign of
(underline row − ink centroid row).  Confidence is 0.97 when the margin is
decisive, 0.55 otherwise (exercising both sides of the 0.9 gate).
"""

from __future__ import annotations

import numpy as np

from ..config import PipelineConfig
from .session import session_for

# K11 label_list: the F8 gate and mostAngle test for "180", so the list is
# fixed rather than configurable
CLS_LABELS = ("0", "180")
CONF_DECISIVE = 0.97
CONF_AMBIGUOUS = 0.55
_MARGIN_PX = 3


def classify_crop(crop: np.ndarray) -> tuple[str, float]:
    """One crop → (label, score), labels from ('0','180')."""
    ink = crop > 127
    row_sums = ink.sum(axis=1)
    total = int(row_sums.sum())
    if total == 0:
        return "0", CONF_AMBIGUOUS
    underline = int(np.argmax(row_sums))
    centroid = float((np.arange(crop.shape[0]) * row_sums).sum()) / total
    margin = underline - centroid
    if abs(margin) < _MARGIN_PX:
        return "0", CONF_AMBIGUOUS
    return ("0", CONF_DECISIVE) if margin > 0 else ("180", CONF_DECISIVE)


def rotate180(img: np.ndarray) -> np.ndarray:
    """K12 (cv2.rotate ROTATE_180 analog)."""
    return np.rot90(img, 2)


def classify_and_rotate(
    crops: list[np.ndarray], cfg: PipelineConfig, session=None
) -> tuple[list[np.ndarray], list[tuple[str, float]]]:
    """Batch driver: aspect-sorted mini-batches (W3), scatter-back (J3),
    conditional rotation (F8).  Batching is semantically invisible for the
    deterministic kernel but kept for parity with the reference's
    memory-bounded execution (config.yaml:34).

    ``session`` (default: ``session_for(cfg)``) supplies (N, 2) probs per
    mini-batch; the K11 argmax post-processing is shared
    (text_cls.py:50-68)."""
    session = session or session_for(cfg)
    n = len(crops)
    results: list[tuple[str, float] | None] = [None] * n
    ratios = [c.shape[1] / float(c.shape[0]) for c in crops]
    indices = np.argsort(np.array(ratios), kind="stable")
    for beg in range(0, n, cfg.cls_batch_num):
        batch = [int(i) for i in indices[beg : beg + cfg.cls_batch_num]]
        probs = session.cls_probs([crops[i] for i in batch])
        for row, i in enumerate(batch):  # K11 argmax post + J3 scatter
            idx = int(np.argmax(probs[row]))
            results[i] = (CLS_LABELS[idx], float(probs[row][idx]))
    out_crops = list(crops)
    final: list[tuple[str, float]] = []
    if cfg.cls_most_angle and n:
        # A4 mostAngle (dotnet OcrLib/AngleNet.cs:74-97): the batch
        # majority overrides every per-crop decision — sum(angle_index)
        # >= count/2 sets ALL indexes to 1 (rotate all), else to 0
        # (rotate none).  No per-crop confidence gate on this path
        # (OcrLite.cs:98-104 rotates purely on Index == 1); reported
        # labels carry the overridden index, scores stay per-crop.
        idx_sum = sum(1 for res in results if "180" in res[0])  # type: ignore[index]
        most = 1 if idx_sum >= n / 2.0 else 0
        for i, res in enumerate(results):
            _label, score = res  # type: ignore[misc]
            if most == 1:
                out_crops[i] = rotate180(out_crops[i])
            final.append((CLS_LABELS[most], score))
        return out_crops, final
    for i, res in enumerate(results):
        label, score = res  # type: ignore[misc]
        if "180" in label and score > cfg.cls_thresh:  # F8
            out_crops[i] = rotate180(out_crops[i])
        final.append((label, score))
    return out_crops, final
