"""Pipeline configuration.

Mirrors the semantics of the reference's nested YAML config
(/root/reference/python/rapidocr_onnxruntime/config.yaml:1-46 and its
kwargs-override machinery utils.py:218-287) as one frozen dataclass that is
broadcast once per job.  Defaults are the reference defaults.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # ---- Global gate (config.yaml:1-8; rapid_ocr_api.py:69-82) ----
    text_score: float = 0.5          # final span filter (F7)
    use_det: bool = True
    use_cls: bool = True
    use_rec: bool = True
    min_height: int = 30             # skip det if image height <= this (F1)
    width_height_ratio: float = 8.0  # skip det if w/h > this (F1)

    # ---- Det (config.yaml:10-27) ----
    det_resize_type: int = 0         # K1: 0=limit_side_len, 1=fixed shape, 2=resize_long
    det_limit_side_len: int = 736    # K1 resize mode 0
    det_limit_type: str = "min"      # 'min' | 'max'
    det_image_shape: tuple[int, int] = (736, 736)  # K1 mode 1 (h, w)
    det_resize_long: int = 960       # K1 mode 2 (long side, snap ↑ to ×128)
    det_thresh: float = 0.3          # F3 binarise threshold
    det_box_thresh: float = 0.5      # F4 box score filter
    det_max_candidates: int = 1000   # L1 work cap
    det_unclip_ratio: float = 1.6    # K5 polygon expansion
    det_use_dilation: bool = True    # K6 2x2 dilation on the seg mask
    det_score_mode: str = "fast"     # 'fast' = bbox-rect mean (A1)
    det_min_size_pre: int = 3        # F5: drop if min side < 3 pre-unclip
    det_min_size_post: int = 5       # F5: drop if min side < 5 post-unclip
    # K13 MakePadding (.NET/C++ CLI knob, dotnet OcrLib/OcrLite.cs:40-61 /
    # cpp OcrLite.cpp:59-84, benchmark.cpp:74-77): pad the image with a
    # background border before det so near-edge boxes unclip freely (no F9
    # truncation at the canvas edge), then translate boxes back by
    # −padding WITHOUT clipping (coords may go negative, OcrLite.cpp:175).
    # The reference pads white on its white-background corpus; the engine's
    # bitmaps are 0-background/255-ink, so background here is 0.  Default
    # 0 = off (the Python path has no padding).
    det_padding: int = 0

    # ---- Cls (config.yaml:29-37) ----
    cls_thresh: float = 0.9          # F8 rotate gate
    cls_batch_num: int = 6
    # A4 mostAngle batch majority vote (.NET surface, dotnet
    # OcrLib/AngleNet.cs:74-97): when on, per-crop angle indexes are
    # overridden by the batch majority — sum(index) >= count/2 rotates ALL
    # crops 180°, otherwise none (no per-crop confidence gate on this
    # path, matching OcrLite.cs:98-104).  Off by default: the Python
    # reference path has no such knob.
    cls_most_angle: bool = False

    # ---- Rec (config.yaml:39-46) ----
    rec_batch_num: int = 6
    # per-char confidences in every span (the .NET rich-TextBlock surface,
    # dotnet OcrResult.cs:41-68 / CrnnNet.cs:114-146); off by default to
    # keep the span payload lean
    rec_char_scores: bool = False

    # ---- Engine-side scale knobs (no reference analog; SURVEY.md §4) ----
    salt_buckets: int = 16           # salted repartition on conv_id

    # ---- Inference backend (S5 session seam, kernels/session.py) ----
    # 'synthetic' = the deterministic in-sandbox kernels; 'onnx' = a real
    # onnxruntime InferenceSession loaded from broadcast model bytes
    # (availability-guarded import; the reference's get_onnx_session analog,
    # rapidocr_onnxruntime/utils.py:21-88); 'onnx_mini' = the synthetic nets
    # serialised as ONNX graphs, run by the in-repo executor
    backend: str = "synthetic"

    def replace(self, **kw) -> "PipelineConfig":
        """kwargs override, the analog of UpdateParameters (utils.py:218-287)."""
        return dataclasses.replace(self, **kw)


DEFAULT_CONFIG = PipelineConfig()
