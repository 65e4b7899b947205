"""Text recognition kernel — the rec stage.

Faithful control flow of the reference's TextRecognizer
(/root/reference/python/rapidocr_onnxruntime/ch_ppocr_v3_rec/text_recognize.py:40-77):
aspect-ratio argsort into mini-batches of rec_batch_num (W3), per-batch
dynamic width from max aspect ratio (A3 — tracked for parity, a no-op for
the synthetic net), inference, CTC greedy decode (K10), scatter-back into
original order (J3).

The "network" is a session's ``rec_probs`` head (kernels/session.py).  The
synthetic net is ``ctc_rows``: the renderer's glyph grid is located from
the underline baseline, each CELL_W-wide cell is template-matched against
the charset glyph bank (exact match → conf 0.98, empty cell → space,
near-miss → hamming-nearest at conf 0.40 so that corrupted lines score
below text_score and exercise F7), and per-cell matches are expanded into
a [c, c, blank] logit sequence so the CTC decode does real blank-dropping
and repeat-collapsing work.

Scale handling (the K9 resize_norm analog): rotated fixtures are rendered
at glyph scale 3 so their features survive the det-warp resampling; when
the exact scale-1 grid match fails, the matcher searches glyph scales
{1,2,3} × per-cell ±2px offsets, majority-voting each k×k block down to a
scale-1 cell — the deterministic stand-in for the CRNN's resize-to-48px
invariance (ch_ppocr_v3_rec/utils.py:77-107).  Tolerance (REC_TOL bit
flips at conf 0.91) applies ONLY to scale>1 crops: scale-1 content keeps
the strict exact/0.40 contract, so corrupted flat crops still fail F7.
"""

from __future__ import annotations

import numpy as np

from ..config import PipelineConfig
from .ctc import ctc_greedy_decode
from .font import BLANK_IDX, CELL_W, GLYPH_H, GLYPH_W, SPACE_IDX, glyph_bank
from .session import session_for

CONF_MATCH = 0.98
CONF_APPROX = 0.91   # tolerant match on warped (scale>1) crops
CONF_MISS = 0.40
REC_TOL = 6          # accepted bit flips (of 70) on the scale>1 path
_SCALES = (1, 2, 3)
_OFF = 2             # per-cell alignment search radius (px)

# (n_classes, GLYPH_H·GLYPH_W) float32 glyph bits and their ink counts —
# the right-hand operand of the matcher's Hamming GEMM (_hamming)
GLYPH_MATRIX = glyph_bank().reshape(-1, GLYPH_H * GLYPH_W).astype(np.float32)
_GLYPH_INK = GLYPH_MATRIX.sum(axis=1)


def _hamming(cells: np.ndarray) -> np.ndarray:
    """(..., GLYPH_H, GLYPH_W) binary cells → (..., n_classes) int32
    Hamming distance to every glyph, as |a| + |b| − 2·(a @ B.T): one
    float32 GEMM over all cells.  Every product, partial sum and result
    is an integer ≤ GLYPH_H·GLYPH_W = 70, exact in float32 under any
    summation order, so the distances are the exact integers (argmin
    ties included)."""
    a = (cells != 0).reshape(-1, GLYPH_H * GLYPH_W).astype(np.float32)
    d = a.sum(axis=1, keepdims=True) + _GLYPH_INK - 2.0 * (a @ GLYPH_MATRIX.T)
    return d.astype(np.int32).reshape(*cells.shape[:-2], GLYPH_MATRIX.shape[0])


def _cell_logit_rows(crop_bin: np.ndarray) -> np.ndarray | None:
    """Locate the glyph grid in a binarised crop and emit per-cell
    (index, prob) pairs as a (n_cells, n_classes) one-hot-ish matrix."""
    n_classes = GLYPH_MATRIX.shape[0]
    row_sums = crop_bin.sum(axis=1)
    if row_sums.sum() == 0:
        return None
    ur = int(np.argmax(row_sums))  # underline = densest row
    if ur < GLYPH_H:
        return None
    xs = np.flatnonzero(crop_bin[ur])
    if xs.size == 0:
        return None
    x0, x1 = int(xs[0]), int(xs[-1])
    n_cells = (x1 - x0 + 2) // CELL_W
    if n_cells <= 0:
        return None
    gy0 = ur - GLYPH_H
    h, w = crop_bin.shape
    cells = np.zeros((n_cells, GLYPH_H, GLYPH_W), dtype=np.uint8)
    for k in range(n_cells):
        cx = x0 + k * CELL_W
        cw = min(GLYPH_W, w - cx)
        if cw > 0:
            cells[k, :, :cw] = crop_bin[gy0:ur, cx : cx + cw]
    # vectorised template match: hamming distance to every glyph
    diff = _hamming(cells)
    diff[:, BLANK_IDX] = GLYPH_H * GLYPH_W + 1  # blank is never emitted by the net
    best = diff.argmin(axis=1)
    exact = diff[np.arange(n_cells), best] == 0
    empty = cells.sum(axis=(1, 2)) == 0
    out = np.zeros((n_cells, n_classes), dtype=np.float32)
    for k in range(n_cells):
        if empty[k]:
            out[k, SPACE_IDX] = CONF_MATCH
        else:
            out[k, int(best[k])] = CONF_MATCH if exact[k] else CONF_MISS
    return out


def _cell_logit_rows_search(crop_bin: np.ndarray) -> np.ndarray | None:
    """Scale/offset-tolerant grid match for warped crops: try glyph scales
    {1,2,3}, per cell the best alignment within ±_OFF px, majority-voting
    k×k blocks down to scale-1 cells.  Returns the logit rows of the scale
    with the lowest total match distance.

    Vectorised: per (scale, dy, dx) the WHOLE cell row is one strided
    strip (cell pitch k·CELL_W is a multiple of k, so a single aligned
    reshape downsamples every cell at once), and all cells match against
    the glyph bank in one exact Hamming GEMM (_hamming).  Scales
    are tried starting from the underline-thickness estimate; the search
    stops once a scale explains the line well (total distance ≤ 1 bit per
    cell) — deterministic, since the order and threshold are fixed."""
    n_classes = GLYPH_MATRIX.shape[0]
    row_sums = crop_bin.sum(axis=1)
    if row_sums.sum() == 0:
        return None
    ur = int(np.argmax(row_sums))
    xs = np.flatnonzero(crop_bin[ur])
    if xs.size == 0:
        return None
    x0g, x1g = int(xs[0]), int(xs[-1])
    h, w = crop_bin.shape
    offs = range(-_OFF, _OFF + 1)
    big = GLYPH_H * GLYPH_W + 1
    # underline thickness ≈ render scale → try that scale first
    thick = 1
    while ur - thick >= 0 and row_sums[ur - thick] >= 0.5 * row_sums[ur]:
        thick += 1
    k_guess = min(max(thick, 1), max(_SCALES))
    scale_order = [k_guess] + [k for k in _SCALES if k != k_guess]
    best_total, best_rows = None, None
    for k in scale_order:
        if ur < k * GLYPH_H:
            continue
        n_cells = int(round((x1g - x0g + 1 + k) / float(k * CELL_W)))
        if n_cells <= 0:
            continue
        strip_w = n_cells * k * CELL_W
        pad_r = max(0, x0g + _OFF + strip_w - w)
        padded = np.pad(crop_bin, ((0, 0), (0, pad_r))) if pad_r else crop_bin
        # ALL valid (dy, dx) alignments matched in ONE batched Hamming
        # GEMM (the 25-slice Python loop only collects views).  Reduction
        # semantics are identical to the old sequential strictly-less
        # update: argmin returns the FIRST minimum, so the earliest offset
        # in (dy, dx) iteration order wins ties, and within an offset the
        # lowest class index wins.
        anchors = []
        for dy in offs:
            cy = ur - k * GLYPH_H + dy
            if cy < 0 or cy + k * GLYPH_H > h:
                continue
            for dx in offs:
                cx = x0g + dx
                if cx < 0:
                    continue
                anchors.append((cy, cx))
        if not anchors:
            continue
        n_off = len(anchors)
        if k > 1:
            # majority vote per k×k block via integer counts:
            # mean > 0.5  ⇔  2·sum > k² (exact, no float division).
            # Block sums come from ONE integral image instead of 25
            # overlapping per-offset strip sums — each block is 4 gathered
            # lookups, ~k²/4x less arithmetic, bit-identical integers.
            ii = np.zeros(
                (padded.shape[0] + 1, padded.shape[1] + 1), dtype=np.int32
            )
            ii[1:, 1:] = padded.cumsum(0, dtype=np.int32).cumsum(1, dtype=np.int32)
            cys = np.array([a[0] for a in anchors])
            cxs = np.array([a[1] for a in anchors])
            Y1 = cys[:, None] + k * np.arange(GLYPH_H)[None, :]
            X1 = cxs[:, None] + k * np.arange(n_cells * CELL_W)[None, :]
            Y2, X2 = Y1 + k, X1 + k
            s = (
                ii[Y2[:, :, None], X2[:, None, :]]
                - ii[Y1[:, :, None], X2[:, None, :]]
                - ii[Y2[:, :, None], X1[:, None, :]]
                + ii[Y1[:, :, None], X1[:, None, :]]
            )
            g = s * 2 > k * k
        else:
            g = np.stack(
                [padded[cy : cy + GLYPH_H, cx : cx + strip_w] for cy, cx in anchors]
            )
        # (n_off, n_cells, GLYPH_H, GLYPH_W): drop the 1px inter-cell gap
        cells = g.reshape(n_off, GLYPH_H, n_cells, CELL_W).transpose(0, 2, 1, 3)[
            :, :, :, :GLYPH_W
        ]
        diff = _hamming(cells)  # (n_off, n_cells, n_classes)
        diff[:, :, BLANK_IDX] = big
        cmin = diff.argmin(axis=2)  # (n_off, n_cells)
        dmin = np.take_along_axis(diff, cmin[:, :, None], axis=2)[:, :, 0]
        off_star = dmin.argmin(axis=0)  # first minimum = earliest offset
        cell_ix = np.arange(n_cells)
        best_d = dmin[off_star, cell_ix]
        best_c = cmin[off_star, cell_ix]
        rows = np.zeros((n_cells, n_classes), dtype=np.float32)
        exact = best_d == 0
        approx = (~exact) & (best_d <= REC_TOL) & (k > 1)
        conf = np.where(exact, CONF_MATCH, np.where(approx, CONF_APPROX, CONF_MISS))
        rows[np.arange(n_cells), best_c] = conf
        total = int(np.minimum(best_d, 35).sum())
        if best_total is None or total < best_total:
            best_total, best_rows = total, rows
        if best_total <= n_cells:  # this scale explains the line — stop
            break
    return best_rows


def ctc_rows(crop: np.ndarray) -> np.ndarray | None:
    """The synthetic rec net: one (orientation-corrected) crop → a
    (3·n_cells, n_classes) float32 CTC matrix, ``None`` when the crop has
    no glyph grid.

    Exact scale-1 grid match first (the hot path, bit-identical to the
    flat-render contract); if any cell is a near-miss the tolerant
    scale/offset search takes over (warped rotated crops).  Each cell
    expands to [c, c, blank], so the K10 decode does real repeat-collapse
    and blank-drop work."""
    crop_bin = crop > 127
    cell_rows = _cell_logit_rows(crop_bin)
    if cell_rows is None or (cell_rows.max(axis=1) < CONF_MATCH).any():
        searched = _cell_logit_rows_search(crop_bin)
        if searched is not None:
            cell_rows = searched
    if cell_rows is None:
        return None
    n_cells, n_classes = cell_rows.shape
    probs = np.zeros((3 * n_cells, n_classes), dtype=np.float32)
    probs[0::3] = cell_rows
    probs[1::3] = cell_rows
    probs[2::3, BLANK_IDX] = 1.0
    return probs


def _no_text(with_chars: bool) -> tuple:
    """A crop without a glyph grid: empty text at score 0.0 (the model's
    all-blank decode scores 1e-50 instead, kernels/onnx_models.py)."""
    return ("", 0.0, []) if with_chars else ("", 0.0)


def recognize_crop(crop: np.ndarray, with_chars: bool = False) -> tuple:
    """One crop → (text, score) through the synthetic net and K10."""
    probs = ctc_rows(crop)
    if probs is None:
        return _no_text(with_chars)
    return ctc_greedy_decode(probs, with_chars=with_chars)


def recognize(
    crops: list[np.ndarray], cfg: PipelineConfig, session=None
) -> list[tuple]:
    """Batch driver: aspect-argsort (W3) into batches of rec_batch_num,
    per-batch max_wh_ratio (A3), scatter results back to original order
    (J3, text_recognize.py:74-75).

    ``session`` (default: ``session_for(cfg)``) supplies CTC prob
    sequences per mini-batch (K9 preprocessing inside session.rec_probs);
    the K10 greedy decode is shared (text_recognize.py:63-72), with the
    charset from the model's metadata when it has one
    (S-charset-from-ONNX, P/utils.py:72-79).  A ``None`` row (no glyph
    grid) keeps the empty result.

    ``cfg.rec_char_scores`` switches every tuple to (text, score,
    char_scores) — the .NET per-char confidence surface."""
    session = session or session_for(cfg)
    with_chars = cfg.rec_char_scores
    charset = session.rec_charset()
    n = len(crops)
    results: list[tuple] = [_no_text(with_chars)] * n
    ratios = np.array([c.shape[1] / float(c.shape[0]) for c in crops])
    indices = np.argsort(ratios, kind="stable")
    for beg in range(0, n, cfg.rec_batch_num):
        batch = indices[beg : beg + cfg.rec_batch_num]
        max_wh_ratio = float(ratios[batch].max())  # A3
        probs = session.rec_probs([crops[int(i)] for i in batch], max_wh_ratio)
        for row, i in enumerate(batch):  # K10 decode + J3 scatter-back
            if probs[row] is not None:
                results[int(i)] = ctc_greedy_decode(
                    np.asarray(probs[row], dtype=np.float32),
                    charset=charset,
                    with_chars=with_chars,
                )
    return results
