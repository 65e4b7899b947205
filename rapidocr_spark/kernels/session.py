"""Per-executor inference sessions — the S5/S6 seam made real.

The reference builds one ONNX InferenceSession per model and caches it
(/root/reference/python/rapidocr_onnxruntime/utils.py:21-88;
ocrweb_multi/rapidocr/main.py:15-19 lru_cache registry).  The engine's
analog is a session object created once per executor process from the
frozen config plus (for the real backend) model bytes shipped via a Spark
broadcast variable — executors never touch a filesystem path:

- ``SyntheticSession``: the in-sandbox deterministic kernels (glyph matrix
  warmed once per process); normative for tests/benchmarks because this
  environment ships no model weights.
- ``OnnxSession``: loads ``onnxruntime`` behind an availability-guarded
  import and builds a real InferenceSession from the broadcast bytes —
  the deploy path; swapping backends never touches the Spark plan.

Dispatch lives in ``make_session``; the per-executor cache keyed by config
is in operators/extract.py (_SESSIONS).
"""

from __future__ import annotations

from typing import Any

from ..config import PipelineConfig


class SyntheticSession:
    """Deterministic kernel-chain session: config + warmed glyph matrix."""

    backend = "synthetic"

    def __init__(self, cfg: PipelineConfig):
        # importing rec builds the glyph bank and the matcher's
        # (n_classes, 70) GLYPH_MATRIX once per executor
        from .rec import GLYPH_MATRIX  # noqa: F401

        self.cfg = cfg


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

    backend = "onnx"
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

    def det_prob(self, resized: "np.ndarray") -> "np.ndarray":
        """K1-resized image → (H, W) float32 probability map."""
        import numpy as np

        from .preprocess import normalize_image, to_chw

        x = to_chw(normalize_image(resized))[None].astype(np.float32)
        out = self.run({self._input_names["det"]: x}, role="det")[0]
        return np.asarray(out)[0, 0].astype(np.float32)

    def cls_probs(self, crops: list) -> "np.ndarray":
        """Crop batch → (N, 2) orientation probs (label_list order)."""
        import numpy as np

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

    def rec_probs(self, crops: list, max_wh_ratio: float) -> "np.ndarray":
        """Crop batch → (N, T, C) CTC probability sequences (A3 dynamic
        width from the batch's max aspect ratio)."""
        import numpy as np

        from .preprocess import rec_resize_norm

        x = np.stack(
            [rec_resize_norm(c, max_wh_ratio) for c in crops]
        ).astype(np.float32)
        return np.asarray(self.run({self._input_names["rec"]: x}, role="rec")[0])


def make_session(cfg: PipelineConfig, model_bytes: bytes | None = None):
    """Backend dispatch (one session per executor per config).

    The reference ships TWO inference engines with identical pipeline
    semantics — onnxruntime and OpenVINO
    (/root/reference/python/rapidocr_openvino/utils.py:19-39; parity table
    python/README.md:45-56: same models, same post-processing, different
    runtime).  The seam here mirrors that: 'openvino' dispatches like
    'onnx' and raises the same availability-guarded error when the runtime
    is absent (neither runtime ships in this container); a deployment
    installs openvino and supplies an OpenVinoSession implementing the
    same det_prob/cls_probs/rec_probs tensor contracts — post-processing
    is shared and untouched."""
    if cfg.backend == "synthetic":
        return SyntheticSession(cfg)
    if cfg.backend == "onnx":
        return OnnxSession(cfg, model_bytes)
    if cfg.backend == "onnx_mini":
        # the in-repo serialized-model chain: det+cls+rec all execute from
        # parsed ONNX bytes (kernels/onnx_models.py) — same oracle routing
        # as 'onnx' (session.backend == 'onnx'), no runtime dependency
        from .onnx_models import MiniOnnxSession, build_default_model_set

        return MiniOnnxSession(cfg, model_bytes or build_default_model_set())
    if cfg.backend == "openvino":
        try:
            import openvino  # type: ignore[import-not-found]  # noqa: F401
        except ImportError as exc:
            raise RuntimeError(
                "backend='openvino' requires the openvino package on every "
                "executor (pip install openvino); this environment does not "
                "ship it — use backend='synthetic' (identical semantics: "
                "reference python/README.md:45-56 parity table)"
            ) from exc
        raise NotImplementedError(
            "OpenVinoSession: wire openvino.Core().compile_model over the "
            "broadcast model bytes with the same det/cls/rec tensor "
            "contracts as OnnxSession"
        )
    raise ValueError(f"unknown backend {cfg.backend!r}")
