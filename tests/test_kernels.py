"""Kernel unit tests — SURVEY.md §5 item 1 (per-stage goldens, mirroring
the reference's test_det/test_cls/test_rec structure)."""

from __future__ import annotations

import numpy as np
import pytest

from rapidocr_spark.config import DEFAULT_CONFIG
from rapidocr_spark.kernels import codec, det, font, geometry, render
from rapidocr_spark.kernels.cls import classify_crop, rotate180
from rapidocr_spark.kernels.ctc import ctc_greedy_decode
from rapidocr_spark.kernels.rec import recognize_crop

CFG = DEFAULT_CONFIG.replace(det_limit_side_len=32)


# ---------------------------------------------------------------- font/codec


def test_glyphs_unique_and_nonempty():
    bank = font.glyph_bank()
    flat = {bank[i].tobytes() for i in range(1, len(font.CHARSET) - 1)}
    assert len(flat) == len(font.CHARSET) - 2  # all non-blank/space distinct
    assert bank[font.SPACE_IDX].sum() == 0
    for i in range(1, len(font.CHARSET) - 1):
        assert bank[i, :, 0].any() and bank[i, :, -1].any()


def test_codec_roundtrip():
    img = render.render_lines(["Hello", "World42"])
    payload = codec.encode_bitmap(img)
    assert payload.startswith(f"bitmap:{img.shape[0]}x{img.shape[1]}:")
    out = codec.decode_bitmap(payload)
    assert np.array_equal(out, img)
    assert codec.bitmap_dims(payload) == img.shape


@pytest.mark.parametrize(
    "bad",
    [
        "bitmap:3x3:!!!",                      # not base64
        "bitmap:3x3:QUJD",                     # bad magic
        "bitmap:9x9:" + codec.encode_bitmap(np.zeros((3, 3), np.uint8)).split(":", 2)[2],  # dim mismatch
    ],
)
def test_codec_errors(bad):
    with pytest.raises(codec.LoadImageError):
        codec.decode_bitmap(bad)


def test_payload_kind():
    assert codec.payload_kind("plain:x") == "plain"
    assert codec.payload_kind("html:<p>") == "html"
    assert codec.payload_kind(None) == "invalid"
    assert codec.payload_kind("whatever") == "invalid"


# --------------------------------------------------------------- det resize


def test_det_resize_min_type_upscales_and_snaps_to_32():
    img = np.zeros((20, 100), np.uint8)
    out, rh, rw = det.det_resize(img, 32, "min")
    # ratio = 32/20 = 1.6 → h: round(32/32)*32=32; w: round(160/32)*32=160
    assert out.shape == (32, 160)
    assert rh == 32 / 20 and rw == 160 / 100


def test_det_resize_max_type_downscales():
    img = np.zeros((100, 1600), np.uint8)
    out, rh, rw = det.det_resize(img, 800, "max")
    # ratio = 0.5 → h: round(50/32)*32=64... wait round(1.5625)=2→64; w: 800
    assert out.shape[1] == 800
    assert out.shape[0] == max(int(round(100 * 0.5 / 32) * 32), 32)


def test_det_resize_identity_when_aligned():
    img = np.zeros((64, 96), np.uint8)
    out, rh, rw = det.det_resize(img, 32, "min")
    assert out is img and rh == 1.0 and rw == 1.0


# ----------------------------------------------------------- CC / unclip


def test_connected_components_basic():
    m = np.zeros((10, 10), bool)
    m[1:3, 1:4] = True       # component A
    m[6:9, 5:8] = True       # component B
    m[2, 5] = True           # touches A diagonally at (2,4)? no — gap; own comp
    boxes = det.connected_component_boxes(m, 10)
    assert (1, 1, 3, 2) in boxes and (5, 6, 7, 8) in boxes


def test_connected_components_8conn_diagonal_merge():
    m = np.zeros((4, 4), bool)
    m[0, 0] = True
    m[1, 1] = True  # diagonal touch → one component under 8-connectivity
    boxes = det.connected_component_boxes(m, 10)
    assert boxes == [(0, 0, 1, 1)]


def test_max_candidates_cap():
    m = np.zeros((1, 50), bool)
    m[0, ::2] = True  # 25 isolated runs
    assert len(det.connected_component_boxes(m, 7)) == 7


def test_unclip_distance_formula():
    # axis-aligned 100×10 quad: every side moves out by d = area·ratio/perimeter
    box = np.array([[0, 0], [100, 0], [100, 10], [0, 10]], np.float32)
    w, h = 100.0, 10.0
    d = w * h * 1.6 / (2 * (w + h))
    want = np.array([[-d, -d], [100 + d, -d], [100 + d, 10 + d], [-d, 10 + d]], np.float32)
    assert np.array_equal(geometry.unclip_quad(box, 1.6), want)


def test_order_points_clockwise():
    pts = np.array([[10, 10], [0, 0], [0, 10], [10, 0]], dtype=np.float32)
    out = det.order_points_clockwise(pts)
    assert out.tolist() == [[0, 0], [10, 0], [10, 10], [0, 10]]


def test_sorted_boxes_same_line_tolerance():
    # two boxes whose y differs by <10 must order left→right even though the
    # right one is slightly higher (the Δy<10 bubble pass, W1)
    def quad(x, y):
        return np.array([[x, y], [x + 20, y], [x + 20, y + 10], [x, y + 10]], np.float32)

    boxes = np.stack([quad(100, 50), quad(0, 55), quad(0, 100)])
    out = det.sorted_boxes(boxes)
    assert [b[0].tolist() for b in out] == [[0, 55], [100, 50], [0, 100]]


# ----------------------------------------------------------------- full det


def test_detect_finds_each_line():
    img = render.render_lines(["Alpha7", "BravoXY", "Charlie"])
    boxes = det.detect(img, CFG)
    assert boxes.shape == (3, 4, 2)
    ys = sorted(b[0][1] for b in boxes)
    assert ys[0] < ys[1] < ys[2]


def test_detect_noise_yields_nothing():
    img = render.render_noise(64, 96, seed=1)
    assert det.detect(img, CFG).shape[0] == 0


def test_detect_zeros_yields_nothing():
    assert det.detect(np.zeros((64, 64), np.uint8), CFG).shape[0] == 0


# ---------------------------------------------------------------------- cls


def test_cls_upright_vs_rotated():
    crop = render.render_lines(["Sample9"], margin=2)
    label, score = classify_crop(crop)
    assert (label, score) == ("0", 0.97)
    label2, score2 = classify_crop(rotate180(crop))
    assert (label2, score2) == ("180", 0.97)


def test_cls_ambiguous_below_gate():
    crop = np.zeros((10, 30), np.uint8)
    crop[5, :] = 255  # single ink row: underline == centroid
    label, score = classify_crop(crop)
    assert label == "0" and score < DEFAULT_CONFIG.cls_thresh


# ---------------------------------------------------------------------- ctc


def test_ctc_blank_drop_and_repeat_collapse():
    # classes: 0=blank, 1='A', 2='B'
    charset = ["blank", "A", "B"]
    probs = np.array(
        [
            [0.0, 0.9, 0.0],  # A
            [0.0, 0.9, 0.0],  # A (raw repeat → collapsed)
            [1.0, 0.0, 0.0],  # blank
            [0.0, 0.9, 0.0],  # A again (after blank → kept)
            [0.0, 0.0, 0.8],  # B
        ],
        dtype=np.float32,
    )
    text, score = ctc_greedy_decode(probs, charset)
    assert text == "AAB"
    # score = (0.9 + 0.9 + 0.8 + 1e-50) / 4  ← the appended-1e-50 quirk
    assert abs(score - (0.9 + 0.9 + 0.8) / 4) < 1e-6  # float32 logits


def test_ctc_single_char_scores_below_half():
    """The reference's np.mean(conf_list + [1e-50]) makes any single-char
    line at conf<1.0 score <0.5 → dropped by text_score (F7)."""
    charset = ["blank", "A"]
    probs = np.array([[0.0, 0.98]], dtype=np.float32)
    text, score = ctc_greedy_decode(probs, charset)
    assert text == "A" and score < 0.5


def test_ctc_empty():
    text, score = ctc_greedy_decode(np.zeros((0, 3), np.float32), ["blank", "A", "B"])
    assert text == "" and score == pytest.approx(1e-50)


# ---------------------------------------------------------------------- rec


def test_rec_roundtrip_with_space():
    crop = render.render_lines(["AB CD9"], margin=2)
    text, score = recognize_crop(crop)
    assert text == "AB CD9"
    assert score == pytest.approx(0.98 * 6 / 7)


def test_rec_empty_line_keeps_synthetic_result():
    """A crop with no glyph grid decodes to ("", 0.0) through the session
    path, not the all-blank model decode's 1e-50 (kernels/onnx_models.py)."""
    from rapidocr_spark.kernels.rec import recognize

    blank = [np.zeros((10, 20), np.uint8)]
    assert recognize(blank, DEFAULT_CONFIG) == [("", 0.0)]
    assert recognize(blank, DEFAULT_CONFIG.replace(rec_char_scores=True)) == [("", 0.0, [])]


def test_rec_cjk_golden():
    crop = render.render_lines(["韩国小馆"], margin=2)
    text, _ = recognize_crop(crop)
    assert text == "韩国小馆"


def test_rec_corrupted_glyph_scores_low():
    crop = render.render_lines(["ABCD"], margin=2).copy()
    # corrupt every glyph: flip a pixel inside each cell
    from rapidocr_spark.kernels.font import CELL_W, GLYPH_H

    for k in range(4):
        x = 2 + k * CELL_W + 2
        crop[2 + GLYPH_H // 2, x] = 255 - crop[2 + GLYPH_H // 2, x]
    text, score = recognize_crop(crop)
    assert score < 0.5  # near-miss conf 0.40 → filtered by F7


def test_ctc_char_scores_surface():
    """with_chars=True appends per-kept-char confidences (the .NET
    OcrResult per-char score surface): one score per character of the
    decoded text, equal to the kept argmax confidences."""
    import numpy as np

    from rapidocr_spark.kernels.ctc import ctc_greedy_decode

    # classes: 0=blank; charset index 1..  Build [a a blank b] with known confs
    probs = np.zeros((4, 5), dtype=np.float32)
    probs[0, 1] = 0.9   # 'a'-ish kept (first of repeat)
    probs[1, 1] = 0.8   # repeat — collapsed
    probs[2, 0] = 1.0   # blank — dropped
    probs[3, 2] = 0.7   # second char kept
    text, score, chars = ctc_greedy_decode(probs, with_chars=True)
    assert len(chars) == len(text) == 2
    assert chars == pytest.approx([0.9, 0.7], abs=1e-6)
    # the pair form is unchanged (no third element, same text/score)
    t2, s2 = ctc_greedy_decode(probs)
    assert (t2, s2) == (text, score)


def test_extract_turn_char_scores_flag():
    from rapidocr_spark.config import DEFAULT_CONFIG
    from rapidocr_spark.kernels.oracle import extract_turn
    from rapidocr_spark.kernels.render import render_lines

    payload = codec.encode_bitmap(render_lines(["Char score line"]))
    cfg = DEFAULT_CONFIG.replace(det_limit_side_len=32)
    off = extract_turn(payload, cfg)
    on = extract_turn(payload, cfg.replace(rec_char_scores=True))
    assert off["spans"] and off["spans"][0]["char_scores"] is None
    assert on["spans"] and on["extracted_text"] == off["extracted_text"]
    for span in on["spans"]:
        cs = span["char_scores"]
        assert cs is not None and len(cs) == len(span["text"])
        assert all(0.0 < c <= 1.0 for c in cs)
