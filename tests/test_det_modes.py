"""K1 resize modes 1/2, A1 'slow' score, S2 format sniffing, and J4
per-language routing — the round-2 fidelity completions (VERDICT r01
missing items 2/4/5)."""

from __future__ import annotations

import numpy as np
import pytest

from rapidocr_spark.config import DEFAULT_CONFIG
from rapidocr_spark.kernels import codec, det, render
from rapidocr_spark.plans.shell import EXTRACT_CFG

CFG = EXTRACT_CFG


# ---------------------------------------------------------------- K1 resize


def test_resize_type1_fixed_shape():
    img = (np.arange(50 * 70) % 251).astype(np.uint8).reshape(50, 70)
    out, rh, rw = det.det_resize_type1(img, (64, 96))
    assert out.shape == (64, 96)
    assert rh == pytest.approx(64 / 50) and rw == pytest.approx(96 / 70)


def test_resize_type2_long_side_snaps_up_128():
    img = np.zeros((100, 300), np.uint8)
    out, rh, rw = det.det_resize_type2(img, 960)
    # ratio = 960/300 = 3.2 → (320, 960) → snap UP to ×128 → (384, 1024)
    assert out.shape == (384, 1024)
    assert rh == pytest.approx(384 / 100) and rw == pytest.approx(1024 / 300)


def test_resize_dispatcher_type_selection():
    img = np.zeros((40, 40), np.uint8)
    c1 = DEFAULT_CONFIG.replace(det_resize_type=1, det_image_shape=(64, 64))
    assert det.det_resize_for_test(img, c1)[0].shape == (64, 64)
    c2 = DEFAULT_CONFIG.replace(det_resize_type=2, det_resize_long=256)
    assert det.det_resize_for_test(img, c2)[0].shape == (256, 256)
    c0 = DEFAULT_CONFIG.replace(det_limit_side_len=32, det_limit_type="min")
    # type0 keeps ratio 1 (40 ≥ 32) but still snaps to ×32 → (32, 32)
    assert det.det_resize_for_test(img, c0)[0].shape == (32, 32)


def test_detect_under_type1():
    # mild down/identity scales — the synthetic prob net (unlike a trained
    # CNN) is resolution-sensitive, so modes are exercised near ratio 1
    img = render.render_lines(["ModeOne 7", "ModeTwo 8"])  # (54, 87)
    for shape in ((54, 87), (43, 70)):
        boxes = det.detect(img, CFG.replace(det_resize_type=1, det_image_shape=shape))
        assert boxes.shape[0] == 2


def test_detect_under_type2():
    lines = [f"TypeTwo {i}" for i in range(7)]
    img = render.render_lines(lines, min_width=240)  # (189, 240)
    cfg = CFG.replace(det_resize_type=2, det_resize_long=240)
    # ratio 1, both sides snap UP to ×128 → network shape (256, 256)
    resized, rh, rw = det.det_resize_for_test(img, cfg)
    assert resized.shape == (256, 256)
    boxes = det.detect(img, cfg)
    assert boxes.shape[0] == 7


# ------------------------------------------------------------- A1 slow mode


def test_slow_score_equals_run_mean():
    prob = np.zeros((10, 10), np.float32)
    prob[2, 3:6] = np.float32(0.6)
    prob[3, 3:5] = np.float32(0.8)
    runs = [(2, 3, 5), (3, 3, 4)]
    want = (0.6 * 3 + 0.8 * 2) / 5
    assert det.box_score_slow(prob, runs) == pytest.approx(want, abs=1e-6)


def test_detect_slow_mode_matches_fast_on_clean_lines():
    img = render.render_lines(["SlowMode 42"])
    fast = det.detect(img, CFG)
    slow = det.detect(img, CFG.replace(det_score_mode="slow"))
    assert np.array_equal(fast, slow)  # both well above box_thresh


def test_slow_mode_rotated_extraction():
    from rapidocr_spark.kernels.oracle import extract_bitmap

    img = render.render_lines(["Slow rot 9"], angle_deg=14.0)
    res = extract_bitmap(img, CFG.replace(det_score_mode="slow"))
    assert res["extracted_text"] == "Slow rot 9"


# ------------------------------------------------------------- S2 sniffing


def test_sniff_formats():
    from rapidocr_spark.kernels.render import render_lines

    sgb = codec.encode_bitmap(render_lines(["Aa"]))
    assert codec.sniff_image_format(sgb) == "sgb"
    assert codec.sniff_image_format("img:/9j/4AAQSkZJRg==") == "jpeg"
    assert codec.sniff_image_format("img:iVBORw0KGgo=") == "png"
    assert codec.sniff_image_format("img:R0lGODlhAQ==") == "gif"
    assert codec.sniff_image_format("not an image") is None


def test_codec_registry_all_real_decoders():
    # jpeg/png/gif are real spec decoders: junk → LoadImageError, real → pixels
    with pytest.raises(codec.LoadImageError, match="bad jpeg"):
        codec.IMAGE_CODECS["jpeg"](b"\xff\xd8\xffjunkjunk")
    with pytest.raises(codec.LoadImageError, match="bad png"):
        codec.IMAGE_CODECS["png"](b"\x89PNG\r\n\x1a\njunk")
    with pytest.raises(codec.LoadImageError, match="bad gif"):
        codec.IMAGE_CODECS["gif"](b"GIF89ajunk")
    import numpy as np

    from rapidocr_spark.kernels.gif import encode_gif
    from rapidocr_spark.kernels.jpeg import encode_jpeg
    from rapidocr_spark.kernels.png import encode_png

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert np.array_equal(codec.IMAGE_CODECS["png"](encode_png(img)), img)
    assert np.array_equal(codec.IMAGE_CODECS["gif"](encode_gif(img)), img)
    jp = codec.IMAGE_CODECS["jpeg"](encode_jpeg(img, sampling=((1, 1),)))
    assert np.abs(jp.astype(int) - img.astype(int)).max() <= 2


# --------------------------------------------------------------- J4 routing


def test_multilang_routing(spark):
    """Three bindings plus a default: every turn matches the eager oracle
    under its own binding, F1 tag included, and unbound languages run
    under the default tagged 'other' (so no binding may be named 'other')."""
    from pyspark.sql import functions as F

    from rapidocr_spark.kernels.oracle import extract_turn
    from rapidocr_spark.operators.extract import extract_transcripts_multilang
    from rapidocr_spark.sources.fixtures import skip_det_tag
    from rapidocr_spark.sources.transcripts import transcripts_df

    conv = F.substring(F.col("conv_id"), 5, 6).cast("int") % 4
    df = transcripts_df(spark, 8).withColumn(
        "lang",
        F.when(conv == 0, F.lit("en"))
        .when(conv == 1, F.lit("zh"))
        .when(conv == 2, F.lit("ja"))
        .otherwise(F.lit("xx")),
    )
    configs = {
        "en": EXTRACT_CFG.replace(text_score=0.995),  # drops every span
        "zh": EXTRACT_CFG.replace(use_cls=False),
        "ja": EXTRACT_CFG.replace(min_height=60),  # moves the F1 gate
    }
    with pytest.raises(ValueError, match="'other'"):
        extract_transcripts_multilang(df, {"other": EXTRACT_CFG}, default=EXTRACT_CFG)
    out = extract_transcripts_multilang(df, configs, default=EXTRACT_CFG)
    rows = out.select(
        "conv_id", "turn_idx", "lang", "kind", "skip_det", "n_boxes",
        "extracted_text",
    ).collect()
    assert {r["lang"] for r in rows} == {"en", "zh", "ja", "other"}
    en_bitmap = [r for r in rows if r["lang"] == "en" and r["kind"] == "bitmap"]
    other_bitmap = [r for r in rows if r["lang"] == "other" and r["kind"] == "bitmap"]
    assert en_bitmap and all(r["n_boxes"] == 0 for r in en_bitmap)
    assert any(r["n_boxes"] > 0 for r in other_bitmap)
    # per-turn equality against the eager oracle under the bound config
    bound = {**configs, "other": EXTRACT_CFG}
    src = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in df.select("conv_id", "turn_idx", "text").collect()
    }
    assert len(rows) == len(src)
    for r in rows:
        cfg = bound[r["lang"]]
        text = src[(r["conv_id"], r["turn_idx"])]
        want = extract_turn(text, cfg)
        assert (r["extracted_text"], r["n_boxes"]) == (
            want["extracted_text"], want["n_boxes"]
        ), (r["conv_id"], r["turn_idx"], r["lang"])
        assert r["skip_det"] == skip_det_tag(text, cfg)
    # the ja binding's F1 gate bites: some turn skips det under it that
    # the default config would detect
    assert any(
        r["lang"] == "ja"
        and r["skip_det"] == "skip"
        and skip_det_tag(src[(r["conv_id"], r["turn_idx"])], EXTRACT_CFG) == "det"
        for r in rows
    )
