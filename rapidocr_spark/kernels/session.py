"""Inference sessions — the one seam between det/cls/rec and a backend.

The reference hides every net behind one session interface and caches one
session per model (python/rapidocr_onnxruntime/utils.py:21-88;
ocrweb_multi/rapidocr/main.py:15-19 lru_cache registry).  Here every
backend is a session with the same four heads — ``det_prob``,
``cls_probs``, ``rec_probs`` and ``rec_charset`` — and det/cls/rec call
those heads and then run the one shared post-processing; they never
branch on the backend.

- ``SyntheticSession``: the deterministic nets (glyph matrix warmed once
  per process); normative for tests/benchmarks because the engine ships
  no model weights.
- ``OnnxSession``: ``onnxruntime`` behind an availability-guarded import,
  one InferenceSession per role from broadcast model bytes — the deploy
  path; swapping backends never touches the Spark plan.
- ``MiniOnnxSession`` (kernels/onnx_models.py): the same nets serialised
  as ONNX graphs and run by the in-repo executor.

``make_session`` dispatches on ``cfg.backend``; ``session_for`` is the one
per-process cache, keyed on (config, model broadcast).  The Spark stage
(operators/extract.py) and the eager path (a ``None`` session in
det/cls/rec) both resolve through it.
"""

from __future__ import annotations

import functools
from typing import Any

import numpy as np

from ..config import PipelineConfig


class SyntheticSession:
    """The deterministic kernel nets behind the session heads."""

    def __init__(self, cfg: PipelineConfig):
        # importing rec builds the glyph bank and the matcher's
        # (n_classes, 70) GLYPH_MATRIX once per executor
        from .rec import GLYPH_MATRIX  # noqa: F401

        self.cfg = cfg

    def det_prob(self, resized: np.ndarray) -> np.ndarray:
        """K1-resized image → (H, W) float32 probability map."""
        from .det import prob_map

        return prob_map(resized)

    def cls_probs(self, crops: list) -> np.ndarray:
        """Crop batch → (N, 2) float64 rows in CLS_LABELS order: the
        classifier's score at its label, the complement at the other.
        Every score is > 0.5, so argmax and the score read back give
        ``classify_crop``'s (label, score) exactly."""
        from .cls import CLS_LABELS, classify_crop

        probs = np.empty((len(crops), 2))
        for row, crop in enumerate(crops):
            label, score = classify_crop(crop)
            j = CLS_LABELS.index(label)
            probs[row, j] = score
            probs[row, 1 - j] = 1.0 - score
        return probs

    def rec_probs(self, crops: list, max_wh_ratio: float) -> list:
        """Crop batch → per-crop [c, c, blank] CTC matrices from the grid
        matchers, ``None`` for a crop with no glyph grid.  The nets match
        at native resolution, so the A3 batch width is unused."""
        from .rec import ctc_rows

        return [ctc_rows(c) for c in crops]

    def rec_charset(self) -> list[str] | None:
        return None  # the packaged glyph bank (font.CHARSET)


class OnnxSession:
    """Real onnxruntime sessions over broadcast model bytes — one
    InferenceSession per pipeline role (det/cls/rec), matching the
    reference's three-model layout (config.yaml model_path per stage).

    ``model_bytes`` is a {'det': bytes, 'cls': bytes, 'rec': bytes} dict
    (a bare bytes value is accepted and bound to all three roles).  The
    inference heads implement the reference's exact tensor contracts and
    feed the SAME post-processing the synthetic kernels use:

    - ``det_prob``: K2 normalize + K3 CHW + batch-1 NCHW float32 →
      run → out[0][0, 0] probability map
      (ch_ppocr_v3_det/text_detect.py:60-79);
    - ``cls_probs``: K8 resize-norm to (3,48,192) → (N,2) softmax probs
      (ch_ppocr_v2_cls/text_cls.py:50-68);
    - ``rec_probs``: K9 dynamic-width resize-norm → (N,T,C) CTC probs
      (ch_ppocr_v3_rec/text_recognize.py:63-72).

    The import is availability-guarded so the engine carries no hard
    dependency: executors raise a clear error at session-build time (not a
    job-submit-time crash) if the package is absent."""

    ROLES = ("det", "cls", "rec")

    def __init__(self, cfg: PipelineConfig, model_bytes):
        try:
            import onnxruntime  # type: ignore[import-not-found]
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "backend='onnx' requires the onnxruntime package on every "
                "executor (pip install onnxruntime); this environment does "
                "not ship it — use backend='synthetic'"
            ) from exc
        if not model_bytes:
            raise ValueError("backend='onnx' needs model_bytes (broadcast)")
        if isinstance(model_bytes, (bytes, bytearray)):
            model_bytes = {role: bytes(model_bytes) for role in self.ROLES}
        # fail at session build (driver-visible, role named) rather than as
        # a KeyError deep inside an executor task at inference time
        missing = set(self.ROLES) - set(model_bytes)
        if missing:
            raise ValueError(
                "backend='onnx' model_bytes is missing role(s) "
                f"{sorted(missing)} — need all of {list(self.ROLES)}"
            )
        so = onnxruntime.SessionOptions()
        self.sessions = {}
        self._input_names = {}
        for role, blob in model_bytes.items():
            sess = onnxruntime.InferenceSession(
                blob, sess_options=so, providers=["CPUExecutionProvider"]
            )
            self.sessions[role] = sess
            try:
                self._input_names[role] = sess.get_inputs()[0].name
            except AttributeError:  # stub sessions in tests lack get_inputs
                self._input_names[role] = "x"
        self.cfg = cfg

    def run(self, inputs: dict[str, Any], role: str = "det"):
        """Raw inference head — get_onnx_session(...).run analog."""
        return self.sessions[role].run(None, inputs)

    def det_prob(self, resized: np.ndarray) -> np.ndarray:
        """K1-resized image → (H, W) float32 probability map."""
        from .preprocess import normalize_image, to_chw

        x = to_chw(normalize_image(resized))[None].astype(np.float32)
        out = self.run({self._input_names["det"]: x}, role="det")[0]
        return np.asarray(out)[0, 0].astype(np.float32)

    def cls_probs(self, crops: list) -> np.ndarray:
        """Crop batch → (N, 2) orientation probs (CLS_LABELS order)."""
        from .preprocess import cls_resize_norm

        x = np.stack([cls_resize_norm(c) for c in crops]).astype(np.float32)
        return np.asarray(self.run({self._input_names["cls"]: x}, role="cls")[0])

    def rec_charset(self) -> list[str] | None:
        """Charset from the rec model's own metadata — the reference reads
        the 'character' key of the ONNX custom metadata map and falls back
        to the packaged dict when absent (P/utils.py:72-79 get_character /
        ch_ppocr_v3_rec CTCLabelDecode character handling): newline-
        separated entries, blank prepended, space appended."""
        try:
            meta = self.sessions["rec"].get_modelmeta().custom_metadata_map
        except Exception:  # noqa: BLE001 — stub sessions / older ORT
            return None
        chars = meta.get("character") if meta else None
        if not chars:
            return None
        return ["blank"] + chars.splitlines() + [" "]

    def rec_probs(self, crops: list, max_wh_ratio: float) -> np.ndarray:
        """Crop batch → (N, T, C) CTC probability sequences (A3 dynamic
        width from the batch's max aspect ratio)."""
        from .preprocess import rec_resize_norm

        x = np.stack(
            [rec_resize_norm(c, max_wh_ratio) for c in crops]
        ).astype(np.float32)
        return np.asarray(self.run({self._input_names["rec"]: x}, role="rec")[0])


def make_session(cfg: PipelineConfig, model_bytes: bytes | dict | None = None):
    """Backend dispatch: 'synthetic', 'onnx' or 'onnx_mini'."""
    if cfg.backend == "synthetic":
        return SyntheticSession(cfg)
    if cfg.backend == "onnx":
        return OnnxSession(cfg, model_bytes)
    if cfg.backend == "onnx_mini":
        # the in-repo serialized-model chain: det+cls+rec all execute from
        # parsed ONNX bytes (kernels/onnx_models.py), no runtime dependency
        from .onnx_models import MiniOnnxSession, build_default_model_set

        return MiniOnnxSession(cfg, model_bytes or build_default_model_set())
    raise ValueError(f"unknown backend {cfg.backend!r}")


def session_for(cfg: PipelineConfig, model_bc=None):
    """The one session per (config, model broadcast) per process.

    ``model_bc`` is the Spark broadcast of the model bytes (anything with
    ``.value``), or ``None``.  It keys the cache by identity: Python
    workers are reused across jobs, and a job that broadcasts other bytes
    under the same config must not run the previous job's models.  A
    worker keeps one object per broadcast across its tasks, so the
    session is built once per broadcast; the cache holds the key, so an
    identity cannot be reused while its entry lives."""
    return _cached_session(cfg, model_bc)


@functools.lru_cache(maxsize=16)
def _cached_session(cfg: PipelineConfig, model_bc):
    # positional-only, so session_for(cfg) and session_for(cfg, None) share
    # one entry (lru_cache keys the call's argument shape)
    return make_session(cfg, model_bc.value if model_bc is not None else None)
