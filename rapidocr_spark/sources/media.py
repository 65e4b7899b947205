"""Deterministic multimodal fixture corpus (media blobs).

Same construction discipline as the transcript corpus: every blob is a
pure function of (MEDIA_SEED, media_id), generation fans out over
``spark.range`` → ``mapInPandas`` (no driver materialisation), and the
driver oracle reads a committed expected-result parquet produced by the
same codec functions run eagerly (fixtures/, scripts/make_fixtures.py).

Mix: single-frame images, multi-frame videos, audio blobs (header reuse:
width=sample_rate/100, height=channels), and junk blobs that must decode
to ok=false without crashing the job.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from ..functions.multimodal import encode_media_blob


def _r6(x: float) -> float:
    """Spark-compatible round(x, 6): Spark rounds doubles HALF_UP over the
    shortest decimal repr (BigDecimal.valueOf), python round() is
    HALF_EVEN — they differ exactly on ties like 0.0703125."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

MEDIA_SEED = 4242
N_FIXTURE_MEDIA = 60

MEDIA_FIXTURE = "expected_media_c60.parquet"
FRAMES_FIXTURE = "expected_frames_c60.parquet"

MEDIA_SCHEMA = "media_id long, kind string, blob binary"


def _rng(media_id: int) -> np.random.Generator:
    h = hashlib.sha256(f"media|{MEDIA_SEED}|{media_id}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


def media_row(media_id: int) -> tuple[int, str, bytes]:
    rng = _rng(media_id)
    sel = media_id % 10
    if sel < 4:  # image
        w = int(rng.integers(16, 257))
        h = int(rng.integers(16, 257))
        return media_id, "image", encode_media_blob("img", w, h, 1, int(rng.integers(1 << 30)))
    if sel < 7:  # video
        w = int(rng.integers(32, 129))
        h = int(rng.integers(32, 129))
        n = int(rng.integers(2, 13))
        return media_id, "video", encode_media_blob("vid", w, h, n, int(rng.integers(1 << 30)))
    if sel < 9:  # audio: width=sample_rate/100, height=channels
        sr = int(rng.choice([80, 160, 441, 480]))
        ch = int(rng.integers(1, 3))
        return media_id, "audio", encode_media_blob("aud", sr, ch, 1, int(rng.integers(1 << 30)))
    # junk: random bytes, wrong magic → ok=false path
    return media_id, "junk", bytes(rng.integers(0, 256, size=int(rng.integers(4, 64)), dtype=np.uint8))


def expected_media_pandas(n: int) -> pd.DataFrame:
    """Eager mirror of decode_media/media_features/resize_images over the
    fixture corpus — the committed driver-oracle columns."""
    from ..functions.multimodal import FEATURE_DIM, HEADER_SIZE, _decode_header

    rows = []
    for media_id, kind, blob in (media_row(i) for i in range(n)):
        hdr = _decode_header(blob)
        if hdr is None:
            rows.append((media_id, None, None, None, None, False, None, None, None))
            continue
        fmt, w, h, nf = hdr
        body = np.frombuffer(blob[HEADER_SIZE:], dtype=np.uint8)
        hist = np.bincount(body % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float32)
        total = float(hist.sum()) or 1.0
        feats = (hist / total).tolist()
        f0 = _r6(feats[0])
        f_max = _r6(max(feats))
        payload_len = len(blob) - HEADER_SIZE
        rows.append((media_id, fmt, w, h, nf, True, f0, f_max, payload_len))
    out = pd.DataFrame(
        rows,
        columns=[
            "media_id", "format", "width", "height", "n_frames", "ok",
            "f0", "f_max", "payload_len",
        ],
    )
    for c in ("width", "height", "n_frames", "payload_len"):
        out[c] = out[c].astype("Int32")
    return out


def expected_frames_pandas(n: int, every_n: int = 2) -> pd.DataFrame:
    """Eager mirror of sample_frames(every_n) over the fixture corpus."""
    from ..functions.multimodal import _decode_header

    rows = []
    for media_id, _kind, blob in (media_row(i) for i in range(n)):
        hdr = _decode_header(blob)
        if hdr is None:
            continue
        _fmt, w, h, nf = hdr
        if nf <= 0:
            continue
        for fi in range(0, nf, every_n):
            rows.append((media_id, fi, w, h))
    out = pd.DataFrame(rows, columns=["media_id", "frame_idx", "width", "height"])
    for c in ("frame_idx", "width", "height"):
        out[c] = out[c].astype("int32")
    return out


# ---------------------------------------------------------------------------
# REAL-container media corpus (round 5): blobs are genuine PNG / GIF /
# baseline-JPEG / progressive-JPEG streams produced by the ENGINE'S OWN
# encoders (kernels/{png,gif,jpeg}.py), decoded back by its own decoders —
# the mm_decode_real gate runs over real pixels, not MMB1 headers.

N_FIXTURE_REAL_MEDIA = 48
REAL_MEDIA_FIXTURE = "expected_media_real_c48.parquet"


def real_media_row(media_id: int) -> tuple[int, str, bytes]:
    """Deterministic real-container blob for one id.  The 8-way cycle
    covers: gray PNG, GIF, 3-component baseline JPEG, progressive (SOF2)
    JPEG, RGB PNG (color→gray funnel), RGBA PNG (alpha path), 4:2:0
    subsampled baseline JPEG (chroma upsample path), and junk bytes that
    must come back ok=false."""
    rng = _rng(media_id + 1_000_000)  # stream disjoint from the MMB1 corpus
    sel = media_id % 8
    if sel == 7:  # junk: wrong magic → LoadImageError → ok=false
        return media_id, "junk", bytes(
            rng.integers(0, 256, size=int(rng.integers(8, 64)), dtype=np.uint8)
        )
    h = int(rng.integers(12, 49))
    w = int(rng.integers(12, 49))
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    if sel == 0:
        from ..kernels.png import encode_png

        return media_id, "png", encode_png(gray)
    if sel == 1:
        from ..kernels.gif import encode_gif

        return media_id, "gif", encode_gif(gray)
    if sel == 2:
        from ..kernels.jpeg import encode_jpeg

        return media_id, "jpeg", encode_jpeg(gray)
    if sel == 3:
        from ..kernels.jpeg import encode_jpeg_progressive

        return media_id, "jpeg", encode_jpeg_progressive(gray)
    if sel == 4:
        from ..kernels.png import encode_png

        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        return media_id, "png", encode_png(rgb)
    if sel == 5:
        from ..kernels.png import encode_png

        rgba = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
        return media_id, "png", encode_png(rgba)
    from ..kernels.jpeg import encode_jpeg

    return media_id, "jpeg", encode_jpeg(gray, sampling=((2, 2), (1, 1), (1, 1)))


def expected_real_media_pandas(n: int) -> pd.DataFrame:
    """Eager mirror of decode_media_real over the real-container corpus —
    format/width/height/pixel-sum computed by the engine's own decoders
    run outside Spark (the committed driver-oracle columns)."""
    from ..functions.multimodal import MEDIA_CODECS
    from ..kernels.codec import LoadImageError, sniff_image_bytes

    rows = []
    for media_id, _kind, blob in (real_media_row(i) for i in range(n)):
        try:
            fmt = sniff_image_bytes(blob)
            img = MEDIA_CODECS["image"](blob)
        except LoadImageError:
            rows.append((media_id, None, None, None, None, False))
            continue
        rows.append(
            (
                media_id,
                fmt,
                int(img.shape[1]),
                int(img.shape[0]),
                int(img.astype(np.int64).sum()),
                True,
            )
        )
    out = pd.DataFrame(
        rows, columns=["media_id", "format", "width", "height", "px_sum", "ok"]
    )
    out["width"] = out["width"].astype("Int32")
    out["height"] = out["height"].astype("Int32")
    out["px_sum"] = out["px_sum"].astype("Int64")
    return out


def real_media_df(spark, n: int):
    """Distributed real-container generation — one task per id range."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [real_media_row(int(i)) for i in pdf["id"].tolist()],
                columns=["media_id", "kind", "blob"],
            )

    n_parts = max(1, min(n, int(spark.sparkContext.defaultParallelism)))
    return spark.range(0, n, numPartitions=n_parts).mapInPandas(gen, schema=MEDIA_SCHEMA)


def media_df(spark, n: int):
    """Distributed generation — one task per id-range partition."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [media_row(int(i)) for i in pdf["id"].tolist()],
                columns=["media_id", "kind", "blob"],
            )

    n_parts = max(1, min(n, int(spark.sparkContext.defaultParallelism)))
    return spark.range(0, n, numPartitions=n_parts).mapInPandas(gen, schema=MEDIA_SCHEMA)
