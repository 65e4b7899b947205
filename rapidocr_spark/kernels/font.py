"""Deterministic bitmap font + recognizer charset.

The sandbox ships no model weights (reference CI downloads them at test
time, /root/reference/.github/workflows/gen_whl_to_pypi_rapidocr_ort.yml:33-38),
so the engine's test/bench inference kernel is a deterministic synthetic one:
every character in the charset gets a unique GLYPH_H×GLYPH_W binary glyph
derived from sha256 of its codepoint.  The *renderer* (render.py) draws text
with these glyphs; the *rec kernel* (rec.py) template-matches them back —
standing in for the CRNN net — and then runs the faithful CTC greedy decode.

Charset layout mirrors the reference's charset contract
(/root/reference/python/rapidocr_onnxruntime/ch_ppocr_v3_rec/utils.py:16-31):
file characters, then ``' '`` appended, then ``'blank'`` prepended so that
index 0 is the CTC blank.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

GLYPH_W = 7
GLYPH_H = 10
CELL_W = GLYPH_W + 1  # 1px inter-glyph gap
LINE_H = GLYPH_H + 1  # glyph rows + 1 underline row (full-width baseline)

# Base characters: ASCII printable (no space — space is appended per the
# reference contract) + the golden CJK strings asserted by the reference
# test suite (test_all_ort.py:26 '正品促销', test_rec.py:29 '韩国小馆') and a
# few extra CJK to give fixtures variety.
_ASCII = "".join(chr(c) for c in range(33, 127))
_CJK = "正品促销韩国小馆中文数据引擎测试样例转录会话轮次真实提取内容主栏"
BASE_CHARS = _ASCII + _CJK

# Reference contract: append ' ', prepend 'blank' (index 0 = CTC blank).
CHARSET: list[str] = ["blank"] + list(BASE_CHARS) + [" "]
BLANK_IDX = 0
SPACE_IDX = len(CHARSET) - 1
CHAR_TO_IDX: dict[str, int] = {c: i for i, c in enumerate(CHARSET[1:], start=1)}


@lru_cache(maxsize=None)
def glyph(ch: str) -> np.ndarray:
    """GLYPH_H×GLYPH_W uint8 {0,1} glyph for one charset character.

    Deterministic: bits come from sha256 of the codepoint.  Space is the
    all-zero glyph.  Every non-space glyph is guaranteed ink in its first
    and last column (so glyph-grid extent detection is exact) and is unique
    within the charset (verified by tests).
    """
    if ch == " ":
        return np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
    digest = hashlib.sha256(f"sgb-glyph-{ord(ch)}".encode()).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
    need = GLYPH_H * GLYPH_W
    while bits.size < need:
        digest = hashlib.sha256(digest).digest()
        bits = np.concatenate([bits, np.unpackbits(np.frombuffer(digest, dtype=np.uint8))])
    g = bits[:need].reshape(GLYPH_H, GLYPH_W).astype(np.uint8)
    # guarantee ink at the horizontal extremes and a nonempty glyph
    g[GLYPH_H // 2, 0] = 1
    g[GLYPH_H // 2, GLYPH_W - 1] = 1
    return g


@lru_cache(maxsize=1)
def glyph_bank() -> np.ndarray:
    """(n_charset, GLYPH_H, GLYPH_W) uint8 stack, index-aligned with CHARSET.

    Index 0 (blank) is all-zero and never matched against (the matcher
    skips it); the broadcast analog of the reference's charset-from-model
    metadata (utils.py:72-79).
    """
    bank = np.zeros((len(CHARSET), GLYPH_H, GLYPH_W), dtype=np.uint8)
    for i, ch in enumerate(CHARSET):
        if i == BLANK_IDX:
            continue
        bank[i] = glyph(ch if ch != "blank" else " ")
    return bank


def renderable(text: str) -> bool:
    return all(c in CHAR_TO_IDX or c == " " for c in text)
