"""Deterministic transcript fixture generator (FIXTURES.md T1).

Schema is fixed by BASELINE.json:input_hint:
    conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp

Payload kinds (FIXTURES.md): ``bitmap:HxW:<b64>`` (drives det→cls→rec),
``html:`` (DOM boilerplate strip), ``plain:`` (passthrough), plus invalid /
garbage payloads (error-column cases mirroring test_all_ort.py:30-41).

Golden anchors from the reference test suite live in conv 0
(/root/reference/python/tests/test_all_ort.py:22-27, test_det.py:28,
test_cls.py:30, test_rec.py:29):
    turn 0  bitmap, 17 lines, first line '正品促销'   (ch_en_num.jpg)
    turn 1  bitmap, 18 lines → n_boxes == 18          (text_det.jpg)
    turn 2  single-line strip '韩国小馆', skip-det path (text_rec.jpg)
    turn 3  bitmap rendered 180°-rotated               (text_cls.jpg)
    turn 4  noise bitmap → null spans                  (zeros image)
    turn 5  junk payload → error column                (LoadImageError)
    turn 6  single-char line → null spans (the 1e-50 score quirk)
    turn 7  html with known main content + boilerplate
    turn 8  pdf layout golden
    turn 9  ROTATED bitmap (18°, glyph scale 3) — the skewed-quad golden
            (minAreaRect + perspective-warp path, VERDICT r01 item 2)
    turn 10 bare-base64 RGB PNG — the real-format LoadImage golden
            (S2 sniff + S3 ingest + kernels/png.py spec decode)
    turn 11 bare-base64 GIF — the first-frame LZW golden
            (check_and_read_gif analog, kernels/gif.py)
    turn 12 bare-base64 PROGRESSIVE JPEG (SOF2 multi-scan, 4:2:0) —
            the reference-fixture format golden (kernels/jpeg.py)

Everything is a pure function of (seed, conv_idx, turn_idx): generation
runs distributed via spark.range → applyInPandas — the driver never
materialises the corpus (100 TB-safe construction).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

import base64

from ..kernels.codec import encode_bitmap
from ..kernels.font import BASE_CHARS
from ..kernels.gif import encode_gif
from ..kernels.jpeg import encode_jpeg, encode_jpeg_progressive
from ..kernels.png import encode_png
from ..kernels.render import render_line_strip, render_lines, render_noise

SEED = 42
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

GOLDEN_CH_EN_NUM_FIRST = "正品促销"
GOLDEN_REC_TEXT = "韩国小馆"
GOLDEN_DET_NBOXES = 18
GOLDEN_HTML_MAIN = "Quarterly Engine Report\nThroughput rose in every region.\nSkew was defused by salting."
GOLDEN_HTML = (
    "<html><head><title>t</title><style>p{color:red}</style></head><body>"
    "<nav><a href='/'>Home</a><a href='/a'>About</a></nav>"
    "<div class='ads banner'>Buy ad space now! Great deals!!</div>"
    "<article><h1>Quarterly Engine Report</h1>"
    "<p>Throughput rose in every region.</p>"
    "<p>Skew was defused by salting.</p></article>"
    "<footer>(c) 2026 corp</footer></body></html>"
)

_WORD_CHARS = BASE_CHARS  # every char the font can render (space added between words)


def _rng(*parts: object) -> np.random.Generator:
    h = hashlib.sha256(("|".join(map(str, parts)) + f"|{SEED}").encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


def _rand_line(rng: np.random.Generator, lo: int = 2, hi: int = 14) -> str:
    n = int(rng.integers(lo, hi + 1))
    chars = [_WORD_CHARS[int(i)] for i in rng.integers(0, len(_WORD_CHARS), n)]
    # sprinkle an interior space to exercise the space class
    if n >= 6 and rng.random() < 0.3:
        chars[n // 2] = " "
    return "".join(chars).strip()


GOLDEN_PDF = (
    "BT 72 700 Td (Invoice 2026-001) Tj ET\n"
    "BT 72 680 Td (Total: 42 units) Tj ET\n"
    "BT 300 680 Td (paid) Tj ET\n"
    "BT 72 660 Td (Thank you \\(again\\)) Tj ET"
)
GOLDEN_PDF_MAIN = "Invoice 2026-001\nTotal: 42 units paid\nThank you (again)"


GOLDEN_ROTATED_LINES = ["Rotated line one", "angle test 42"]
GOLDEN_ROTATED_ANGLE = 18.0


GOLDEN_PNG_LINES = ["Png golden line", "decoded by spec"]
GOLDEN_GIF_LINES = ["Gif golden frame", "lzw decoded"]
GOLDEN_JPEG_LINES = ["Jpeg golden scan", "dct decoded 8x8"]


def _image_payload(img: np.ndarray, rng: np.random.Generator) -> str:
    """Encode a rendered grayscale image as a bare-base64 real-container
    payload (the S3 ingest shape).  Variants: PNG grayscale / PNG RGB
    with R=G=B / PNG opaque RGBA / GIF (grayscale palette) / baseline
    JPEG (1-comp or 4:2:0, near-lossless).  PNG/GIF decode back to the
    identical gray plane, so those turns extract bit-identically to
    their bitmap-route twins; JPEG is within ±1 gray level (all-ones
    quantisation), which the >127 binarisation ignores — the eager
    fixture oracle runs the same decode either way."""
    r = float(rng.random())
    if r < 0.2:
        px: np.ndarray = img
    elif r < 0.4:
        px = np.repeat(img[:, :, np.newaxis], 3, axis=2)
    elif r < 0.6:
        px = np.concatenate(
            [
                np.repeat(img[:, :, np.newaxis], 3, axis=2),
                np.full((*img.shape, 1), 255, dtype=np.uint8),
            ],
            axis=2,
        )
    elif r < 0.8:
        return base64.b64encode(encode_gif(img)).decode("ascii")
    else:
        sampling = ((1, 1),) if float(rng.random()) < 0.5 else ((2, 2), (1, 1), (1, 1))
        enc = (
            encode_jpeg_progressive  # SOF2 multi-scan (SA + spectral bands)
            if float(rng.random()) < 0.5
            else encode_jpeg
        )
        return base64.b64encode(enc(img, sampling=sampling)).decode("ascii")
    return base64.b64encode(encode_png(px)).decode("ascii")


def turns_per_conv(conv_idx: int) -> int:
    """Pseudo-Zipf in [1, 50]; deterministic per conversation."""
    if conv_idx == 0:
        return 13  # golden anchors (turns 10/11/12 = PNG/GIF/JPEG goldens)
    u = float(_rng("nturns", conv_idx).random())
    return max(1, min(50, int(50 * (u ** 2.5)) + 1))


def _golden_turn_payload(turn_idx: int) -> str:
    if turn_idx == 0:
        rng = _rng("golden17")
        lines = [GOLDEN_CH_EN_NUM_FIRST] + [_rand_line(rng) for _ in range(16)]
        return encode_bitmap(render_lines(lines))
    if turn_idx == 1:
        rng = _rng("golden18")
        return encode_bitmap(render_lines([_rand_line(rng) for _ in range(GOLDEN_DET_NBOXES)]))
    if turn_idx == 2:
        return encode_bitmap(render_line_strip(GOLDEN_REC_TEXT))
    if turn_idx == 3:
        rng = _rng("goldenrot")
        return encode_bitmap(render_lines([_rand_line(rng) for _ in range(3)], rotate180=True))
    if turn_idx == 4:
        return encode_bitmap(render_noise(64, 96, seed=SEED))
    if turn_idx == 5:
        return "bitmap:9x9:!!!not-base64!!!"
    if turn_idx == 6:
        return encode_bitmap(render_lines(["W"]))
    if turn_idx == 7:
        return "html:" + GOLDEN_HTML
    if turn_idx == 8:
        return "pdf:" + GOLDEN_PDF
    if turn_idx == 9:
        return encode_bitmap(
            render_lines(GOLDEN_ROTATED_LINES, angle_deg=GOLDEN_ROTATED_ANGLE)
        )
    if turn_idx == 10:
        # real-format golden — base64 RGB PNG through the S2/S3 route
        img = render_lines(GOLDEN_PNG_LINES)
        return base64.b64encode(
            encode_png(np.repeat(img[:, :, np.newaxis], 3, axis=2))
        ).decode("ascii")
    if turn_idx == 11:
        # base64 GIF golden (first-frame LZW decode route)
        return base64.b64encode(encode_gif(render_lines(GOLDEN_GIF_LINES))).decode("ascii")
    # turn 12: base64 PROGRESSIVE-JPEG golden (SOF2 multi-scan, 4:2:0) —
    # the spectral-selection + successive-approximation decode paths get a
    # hard driver-gated row; baseline+restart-interval streams ride in the
    # random image slice and the pytest suite
    return base64.b64encode(
        encode_jpeg_progressive(
            render_lines(GOLDEN_JPEG_LINES),
            sampling=((2, 2), (1, 1), (1, 1)),
        )
    ).decode("ascii")


def payload_for(conv_idx: int, turn_idx: int, skew_conv: int = -1) -> str:
    """Deterministic payload for one (conv, turn)."""
    if conv_idx == 0:
        return _golden_turn_payload(turn_idx)
    rng = _rng("payload", conv_idx, turn_idx)
    r = float(rng.random())
    _ = skew_conv  # skewed conversations use the normal payload mix
    if r < 0.40:
        # plain: cheap passthrough (Catalyst-only route)
        n = int(rng.integers(1, 5))
        return "plain:" + "\n".join(_rand_line(rng, 3, 20) for _ in range(n))
    if r < 0.62:
        main = [_rand_line(rng, 4, 18) for _ in range(int(rng.integers(1, 4)))]
        return "html:" + _make_html(main, rng)
    if r < 0.68:
        n = int(rng.integers(1, 5))
        runs = [
            f"BT {int(rng.integers(40, 400))} {700 - 20 * k} Td "
            f"({_rand_line(rng, 3, 12).replace(chr(92), '').replace('(', '<').replace(')', '>')}) Tj ET"
            for k in range(n)
        ]
        return "pdf:" + "\n".join(runs)
    if r < 0.70:
        # bare-base64 PNG/GIF (S2 sniff + S3 ingest + real decode path)
        lines = [_rand_line(rng) for _ in range(int(rng.integers(1, 4)))]
        return _image_payload(render_lines(lines), rng)
    if r < 0.97:
        n_lines = int(rng.integers(1, 4))
        lines = [_rand_line(rng) for _ in range(n_lines)]
        if float(rng.random()) < 0.15:
            return encode_bitmap(render_lines(lines, rotate180=True))
        if n_lines == 1 and float(rng.random()) < 0.3:
            return encode_bitmap(render_line_strip(lines[0]))  # F1 skip-det path
        if float(rng.random()) < 0.25:
            # skewed text: fresh short lines (scale-3 canvases are 9× the
            # pixels, so bound them), angle in ±[6°, 30°]
            rot_lines = [_rand_line(rng, 2, 10) for _ in range(int(rng.integers(1, 3)))]
            angle = float(rng.integers(6, 31)) * (1.0 if float(rng.random()) < 0.5 else -1.0)
            return encode_bitmap(render_lines(rot_lines, angle_deg=angle))
        return encode_bitmap(render_lines(lines))
    if r < 0.985:
        return encode_bitmap(render_noise(48, 64, seed=int(rng.integers(1 << 30))))
    return "garbage-payload-" + str(int(rng.integers(1 << 30)))


def _make_html(main_lines: list[str], rng: np.random.Generator) -> str:
    nav = "<nav><a href='/'>Home</a><a href='/x'>Docs</a></nav>"
    ad = "<div class='promo'>SALE {} percent off now</div>".format(int(rng.integers(10, 90)))
    body = "".join(f"<p>{ln}</p>" for ln in main_lines)
    foot = "<footer>contact us</footer>"
    return f"<html><body>{nav}{ad}<article>{body}</article>{foot}</body></html>"


def conv_pandas(conv_idx: int, n_turns: int | None = None, skew_conv: int = -1) -> pd.DataFrame:
    """All turns of one conversation as a pandas frame."""
    n = n_turns if n_turns is not None else turns_per_conv(conv_idx)
    rows = []
    for t in range(n):
        role = ROLES[t % 3]
        rows.append(
            {
                "conv_id": f"conv{conv_idx:06d}",
                "turn_idx": np.int32(t),
                "role": role,
                "text": payload_for(conv_idx, t, skew_conv=skew_conv),
                "tool": f"tool{t % 3}" if role == "tool" else "",
                "ts": BASE_TS + timedelta(seconds=60 * (conv_idx * 1000 + t)),
            }
        )
    return pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)


def transcripts_pandas(n_convs: int, skew_conv: int = -1, skew_turns: int = 0) -> pd.DataFrame:
    """Small-scale eager generation (tests)."""
    frames = [
        conv_pandas(c, n_turns=skew_turns if c == skew_conv else None, skew_conv=skew_conv)
        for c in range(n_convs)
    ]
    return pd.concat(frames, ignore_index=True)


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def transcripts_df(spark, n_convs: int, skew_conv: int = -1, skew_turns: int = 0):
    """Distributed generation: one task per conversation-range partition.

    spark.range drives the fan-out; each executor renders its own
    conversations — no driver materialisation, scales linearly with
    executors (the pattern a 100 TB synthetic corpus would use)."""

    def gen(batches):
        for pdf in batches:
            for c in pdf["id"].tolist():
                yield conv_pandas(
                    int(c),
                    n_turns=skew_turns if int(c) == skew_conv else None,
                    skew_conv=skew_conv,
                )

    n_parts = max(1, min(n_convs, int(spark.sparkContext.defaultParallelism) * 2))
    return (
        spark.range(0, n_convs, numPartitions=n_parts)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )
