"""Text-region detection kernel — DB detector semantics, pure numpy.

Re-implements (from scratch, no cv2/pyclipper) the deterministic
post-processing pipeline of the reference's DBPostProcess + TextDetector:

- K1 DetResizeForTest type0 (limit_side_len, round-to-×32)
      /root/reference/python/rapidocr_onnxruntime/ch_ppocr_v3_det/utils.py:101-211
- F3 segmentation threshold (pred > thresh)            .../utils.py:385-386
- K6 optional 2×2 dilation of the segmentation mask    .../utils.py:265-268,390-396
- K4 connected-component box extraction: run-length union-find labeling
      (in place of cv2.findContours), each component's run endpoints fed
      to a rotating-calipers min-area rect (kernels/geometry.py — the
      cv2.minAreaRect+boxPoints analog), so skewed/rotated text gets a
      true rotated quad                                .../utils.py:248-315,326-347
- A1 box_score 'fast' (mean prob inside the quad, rasterised point-in-
      polygon mask over the quad's bbox)               .../utils.py:349-361
- F4 box-score filter (>= box_thresh)                  .../utils.py:300-301
- K5 unclip polygon expansion d = area*ratio/perimeter, rect-exact
      round-join offset (geometry.unclip_quad)         .../utils.py:317-324
- F5 min-size filters (pre <3, post <5)                .../utils.py:262,292-306
- L1 max_candidates cap (1000)                         .../utils.py:286
- L2 order_points_clockwise                 .../ch_ppocr_v3_det/text_detect.py:84-107
- F6/F9 degenerate-rect filter + coordinate clip       .../text_detect.py:109-127
- W1 sorted_boxes reading order (Δy<10 same-line pass)
      /root/reference/python/rapidocr_onnxruntime/rapid_ocr_api.py:152-174

The "network" (prob map from pixels) is a session's ``det_prob`` head
(kernels/session.py).  The synthetic net is ``prob_map``: a normalised box
blur of the ink mask, scaled so text interiors saturate — see SURVEY.md §7
M1 (no ONNX weights ship with the engine).
"""

from __future__ import annotations

import numpy as np

from ..config import PipelineConfig
from .geometry import min_area_rect, unclip_quad
from .session import session_for

# ---------------------------------------------------------------- K1 resize


def det_resize(
    img: np.ndarray, limit_side_len: int, limit_type: str
) -> tuple[np.ndarray, float, float]:
    """Resize for detection; returns (resized, ratio_h, ratio_w).

    type0 semantics: 'max' shrinks so max side <= limit; 'min' grows so min
    side >= limit; both then snap each side to a multiple of 32 (floor at
    32).  Nearest-neighbour interpolation (deterministic)."""
    h, w = img.shape[:2]
    if limit_type == "max":
        ratio = float(limit_side_len) / max(h, w) if max(h, w) > limit_side_len else 1.0
    elif limit_type == "min":
        ratio = float(limit_side_len) / min(h, w) if min(h, w) < limit_side_len else 1.0
    else:
        raise ValueError(f"unknown limit_type {limit_type!r}")
    resize_h = max(int(round(h * ratio / 32) * 32), 32)
    resize_w = max(int(round(w * ratio / 32) * 32), 32)
    return _nn_resize(img, resize_h, resize_w)


def _nn_resize(img: np.ndarray, resize_h: int, resize_w: int) -> tuple[np.ndarray, float, float]:
    h, w = img.shape[:2]
    ratio_h = resize_h / float(h)
    ratio_w = resize_w / float(w)
    if (resize_h, resize_w) == (h, w):
        return img, 1.0, 1.0
    ys = np.minimum((np.arange(resize_h) / ratio_h).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(resize_w) / ratio_w).astype(np.int64), w - 1)
    return img[np.ix_(ys, xs)], ratio_h, ratio_w


def det_resize_type1(img: np.ndarray, image_shape: tuple[int, int]) -> tuple[np.ndarray, float, float]:
    """K1 type1: resize to a FIXED (h, w) network shape
    (ch_ppocr_v3_det/utils.py:134-142)."""
    return _nn_resize(img, int(image_shape[0]), int(image_shape[1]))


def det_resize_type2(img: np.ndarray, resize_long: int) -> tuple[np.ndarray, float, float]:
    """K1 type2: scale so the LONG side equals resize_long, then snap each
    side UP to a multiple of 128 (ch_ppocr_v3_det/utils.py:188-210)."""
    h, w = img.shape[:2]
    ratio = float(resize_long) / max(h, w)
    resize_h, resize_w = int(h * ratio), int(w * ratio)
    stride = 128
    resize_h = (resize_h + stride - 1) // stride * stride
    resize_w = (resize_w + stride - 1) // stride * stride
    return _nn_resize(img, resize_h, resize_w)


def det_resize_for_test(img: np.ndarray, cfg: PipelineConfig) -> tuple[np.ndarray, float, float]:
    """K1 dispatcher — the DetResizeForTest kwargs contract
    (utils.py:101-132): type0 limit_side_len/limit_type, type1 fixed
    image_shape, type2 resize_long."""
    if cfg.det_resize_type == 1:
        return det_resize_type1(img, cfg.det_image_shape)
    if cfg.det_resize_type == 2:
        return det_resize_type2(img, cfg.det_resize_long)
    return det_resize(img, cfg.det_limit_side_len, cfg.det_limit_type)


# ------------------------------------------------- synthetic "DB network"

_BLUR_W = 5  # bridges the 1px inter-glyph gaps horizontally
_BLUR_H = 3


def _box_mean(a: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Separable box-filter mean with zero padding (vectorised cumsum)."""
    ph, pw = kh // 2, kw // 2
    p = np.pad(a, ((ph + 1, kh - ph - 1), (pw + 1, kw - pw - 1)), mode="constant")
    c = p.cumsum(axis=0).cumsum(axis=1)
    h, w = a.shape
    s = (
        c[kh : kh + h, kw : kw + w]
        - c[:h, kw : kw + w]
        - c[kh : kh + h, :w]
        + c[:h, :w]
    )
    return s / float(kh * kw)


def prob_map(img: np.ndarray) -> np.ndarray:
    """Synthetic det inference: ink mask → [0,1] float32 probability map.

    Text interiors (≈50% glyph density) saturate to 1.0; sparse noise stays
    below det_thresh, reproducing the reference's zeros-image→None contract
    (test_all_ort.py:38-41)."""
    ink = (img > 127).astype(np.float32)
    return np.clip(2.0 * _box_mean(ink, _BLUR_H, _BLUR_W), 0.0, 1.0).astype(np.float32)


# ---------------------------------------------------------------- K6 dilate


def dilate2x2(mask: np.ndarray) -> np.ndarray:
    """2×2 structuring-element dilation (anchor bottom-right, matching the
    cv2 even-kernel convention): out[y,x] = any(mask[y-1:y+1, x-1:x+1])."""
    out = mask.copy()
    out[1:, :] |= mask[:-1, :]
    out[:, 1:] |= mask[:, :-1]
    out[1:, 1:] |= mask[:-1, :-1]
    return out


# --------------------------------------- K4 run-length connected components


def connected_component_boxes(mask: np.ndarray, max_candidates: int) -> list[tuple[int, int, int, int]]:
    """8-connected component bounding boxes (x0, y0, x1, y1), inclusive,
    ordered by first appearance in row-major scan, capped at max_candidates."""
    return [bb for bb, _ in _components(mask, max_candidates)]


def _components(
    mask: np.ndarray, max_candidates: int
) -> list[tuple[tuple[int, int, int, int], list[tuple[int, int, int]]]]:
    """8-connected components as (inclusive bbox, [(y, x_start, x_end)]
    run list), first-appearance order, capped at max_candidates (L1).

    Run-length union-find: per row, ink runs are found vectorised; each run
    unions with the previous row's runs it touches (8-connectivity)."""
    parent: list[int] = []
    bbox: list[list[int]] = []  # per root label: [x0, y0, x1, y1]
    runs_of: list[list[tuple[int, int, int]]] = []  # per LABEL: its runs
    order: list[int] = []       # roots in first-appearance order

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    # all runs in ONE vectorised pass (row-major): a horizontal diff of the
    # 0/1 mask marks run starts (+1) and one-past-ends (-1)
    d = np.diff(mask.astype(np.int8), axis=1, prepend=0, append=0)
    sy, sx = np.nonzero(d == 1)
    _, ex_ = np.nonzero(d == -1)
    ex_ = ex_ - 1
    run_rows = sy.tolist()
    run_starts = sx.tolist()
    run_ends = ex_.tolist()

    prev: list[tuple[int, int, int]] = []  # (start, end_inclusive, label)
    cur: list[tuple[int, int, int]] = []
    cur_y = -1
    pi = 0
    for y, s, e in zip(run_rows, run_starts, run_ends):
        if y != cur_y:
            prev = cur if y == cur_y + 1 else []
            cur = []
            cur_y = y
            pi = 0
        label = -1
        # advance past prev-row runs that end left of s-1 (8-conn touch)
        while pi < len(prev) and prev[pi][1] < s - 1:
            pi += 1
        pj = pi
        while pj < len(prev) and prev[pj][0] <= e + 1:
            r = find(prev[pj][2])
            if label == -1:
                label = r
            elif r != label:
                # union: keep the earlier root
                a, b = (label, r) if label < r else (r, label)
                parent[b] = a
                ba, bb = bbox[a], bbox[b]
                ba[0] = min(ba[0], bb[0]); ba[1] = min(ba[1], bb[1])
                ba[2] = max(ba[2], bb[2]); ba[3] = max(ba[3], bb[3])
                label = a
            pj += 1
        if label == -1:
            label = len(parent)
            parent.append(label)
            bbox.append([s, y, e, y])
            runs_of.append([])
            order.append(label)
        else:
            bx = bbox[label]
            bx[0] = min(bx[0], s); bx[2] = max(bx[2], e); bx[3] = max(bx[3], y)
        runs_of[label].append((y, s, e))
        cur.append((s, e, label))

    grouped: dict[int, list[tuple[int, int, int]]] = {}
    for lab in range(len(parent)):
        grouped.setdefault(find(lab), []).extend(runs_of[lab])

    seen: set[int] = set()
    out: list[tuple[tuple[int, int, int, int], list[tuple[int, int, int]]]] = []
    for lab in order:
        r = find(lab)
        if r in seen:
            continue
        seen.add(r)
        x0, y0, x1, y1 = bbox[r]
        out.append(((x0, y0, x1, y1), grouped[r]))
        if len(out) >= max_candidates:  # L1 work cap
            break
    return out


# ----------------------------------------------------------- A1 box score


def box_score_fast(prob: np.ndarray, box: np.ndarray) -> float:
    """Mean probability inside the quad — the reference's 'fast' score
    (fillPoly mask over the box's bbox, utils.py:349-361).  Pixels whose
    centres lie on the boundary count as inside, so for an axis-aligned
    integer quad this equals the inclusive-bbox mean."""
    h, w = prob.shape
    x0 = int(np.clip(np.floor(box[:, 0].min()), 0, w - 1))
    x1 = int(np.clip(np.ceil(box[:, 0].max()), 0, w - 1))
    y0 = int(np.clip(np.floor(box[:, 1].min()), 0, h - 1))
    y1 = int(np.clip(np.ceil(box[:, 1].max()), 0, h - 1))
    xs, ys = np.meshgrid(
        np.arange(x0, x1 + 1, dtype=np.float64),
        np.arange(y0, y1 + 1, dtype=np.float64),
    )
    inside = np.ones(xs.shape, dtype=bool)
    q = box.astype(np.float64)
    for i in range(4):  # clockwise quad in y-down coords → interior has cross >= 0
        ax, ay = q[i]
        bx, by = q[(i + 1) % 4]
        inside &= (bx - ax) * (ys - ay) - (by - ay) * (xs - ax) >= 0
    if not inside.any():
        return 0.0
    return float(prob[y0 : y1 + 1, x0 : x1 + 1][inside].mean())


def box_score_slow(prob: np.ndarray, runs: list[tuple[int, int, int]]) -> float:
    """The reference's 'slow' score: mean prob inside the actual CONTOUR
    polygon, not the fitted rect (utils.py:363-382).  Our components are
    exact run-length pixel sets, so the contour interior is the run union —
    a tighter score than 'fast' for rotated/ragged regions."""
    total = 0.0
    n = 0
    for y, s, e in runs:
        seg = prob[y, s : e + 1]
        total += float(seg.sum())
        n += seg.size
    return total / n if n else 0.0


# ------------------------------------------------------------- L2 ordering


def order_points_clockwise(pts: np.ndarray) -> np.ndarray:
    """Canonicalise a (4,2) quad to [tl, tr, br, bl]: split by x into left
    and right pairs, order each pair by y (text_detect.py:84-107 semantics)."""
    idx = np.argsort(pts[:, 0], kind="stable")
    left, right = pts[idx[:2]], pts[idx[2:]]
    tl, bl = left[np.argsort(left[:, 1], kind="stable")]
    tr, br = right[np.argsort(right[:, 1], kind="stable")]
    return np.array([tl, tr, br, bl], dtype=pts.dtype)


def sorted_boxes(boxes: np.ndarray) -> np.ndarray:
    """W1 reading order: sort top→bottom then left→right, where a bubble
    pass treats Δy < 10px as the same line (rapid_ocr_api.py:152-174 —
    NOT a plain lexicographic sort)."""
    n = boxes.shape[0]
    if n <= 1:
        return boxes
    order = sorted(range(n), key=lambda i: (float(boxes[i][0][1]), float(boxes[i][0][0])))
    b = [boxes[i] for i in order]
    for i in range(n - 1):
        for j in range(i, -1, -1):
            if abs(b[j + 1][0][1] - b[j][0][1]) < 10 and b[j + 1][0][0] < b[j][0][0]:
                b[j], b[j + 1] = b[j + 1], b[j]
            else:
                break
    return np.stack(b)


# ---------------------------------------------------------------- full det


def detect(img: np.ndarray, cfg: PipelineConfig, session=None) -> np.ndarray:
    """Full det stage: resize → prob map → threshold → dilate → component
    point sets → min-area rotated rect → quad score filter → unclip →
    rescale to source coords → round+clip → degenerate filter.  Returns
    (N,4,2) float32 quads [tl,tr,br,bl] in source-image coordinates
    (unsorted; reading order is applied by the pipeline via sorted_boxes,
    mirroring rapid_ocr_api.py:87).  Skewed text yields genuinely rotated
    quads (utils.py:248-315 semantics); size filters use the pixel-extent
    convention (side + 1) so axis-aligned results match the run-length
    bounding boxes exactly."""
    src_h, src_w = img.shape[:2]
    resized, ratio_h, ratio_w = det_resize_for_test(img, cfg)
    # inference head (kernels/session.py); post-processing below is shared
    prob = (session or session_for(cfg)).det_prob(resized)
    seg = prob > cfg.det_thresh  # F3
    if cfg.det_use_dilation:
        seg = dilate2x2(seg)  # K6
    prob = np.asarray(prob, dtype=np.float32)
    quads: list[np.ndarray] = []
    for _bb, runs in _components(seg, cfg.det_max_candidates):
        pts = np.empty((2 * len(runs), 2), dtype=np.float64)
        for i, (y, s, e) in enumerate(runs):
            pts[2 * i] = (s, y)
            pts[2 * i + 1] = (e, y)
        box, sside = min_area_rect(pts)  # K4 rotated rect
        if sside + 1 < cfg.det_min_size_pre:  # F5 pre (pixel extent)
            continue
        if cfg.det_score_mode == "slow":
            score = box_score_slow(prob, runs)  # A1 slow (contour interior)
        else:
            score = box_score_fast(prob, box)  # A1 fast
        if score < cfg.det_box_thresh:  # F4
            continue
        ex = unclip_quad(box, cfg.det_unclip_ratio)  # K5
        ew = np.hypot(*(ex[1] - ex[0]))
        eh = np.hypot(*(ex[3] - ex[0]))
        if min(ew, eh) + 1 < cfg.det_min_size_post:  # F5 post
            continue
        # rescale to source coords (K1 ratios), round to ints, clip (F9) —
        # the reference rounds box coords after rescale (utils.py:302-306)
        quad = np.empty((4, 2), dtype=np.float32)
        quad[:, 0] = np.clip(np.round(ex[:, 0] / ratio_w), 0, src_w - 1)
        quad[:, 1] = np.clip(np.round(ex[:, 1] / ratio_h), 0, src_h - 1)
        quad = order_points_clockwise(quad)  # L2
        rect_w = float(np.hypot(*(quad[1] - quad[0])))
        rect_h = float(np.hypot(*(quad[3] - quad[0])))
        if rect_w <= 3 or rect_h <= 3:  # F6 degenerate
            continue
        quads.append(quad)
    if not quads:
        return np.zeros((0, 4, 2), dtype=np.float32)
    return np.stack(quads)
