"""S5 session seam: synthetic ⇔ onnx dispatch, broadcast-bytes loading,
availability-guarded import, the per-process session cache."""

from __future__ import annotations

import sys
import types

import pandas as pd
import pytest

from rapidocr_spark.config import DEFAULT_CONFIG
from rapidocr_spark.kernels.session import (
    OnnxSession, SyntheticSession, _cached_session, make_session, session_for,
)
from rapidocr_spark.operators import extract as extract_mod


def test_default_backend_is_synthetic():
    sess = make_session(DEFAULT_CONFIG)
    assert isinstance(sess, SyntheticSession)
    assert sess.cfg is DEFAULT_CONFIG


def test_onnx_backend_without_package_raises_clearly():
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    assert "onnxruntime" not in sys.modules  # the container ships none
    with pytest.raises(RuntimeError, match="onnxruntime"):
        make_session(cfg, model_bytes=b"model")


def test_unknown_backend_rejected():
    for backend in ("tensor-what", "openvino"):
        with pytest.raises(ValueError, match="unknown backend"):
            make_session(DEFAULT_CONFIG.replace(backend=backend), model_bytes=b"model")


@pytest.fixture
def fake_onnxruntime(monkeypatch):
    """A stub onnxruntime module recording what the session loads."""
    created = {"sessions": 0}

    class FakeInferenceSession:
        def __init__(self, model_bytes, sess_options=None, providers=None):
            created["model_bytes"] = model_bytes
            created["providers"] = providers
            created["sessions"] += 1

        def run(self, outs, inputs):
            return [inputs]

    mod = types.ModuleType("onnxruntime")
    mod.InferenceSession = FakeInferenceSession
    mod.SessionOptions = lambda: None
    monkeypatch.setitem(sys.modules, "onnxruntime", mod)
    return created


def test_onnx_session_loads_broadcast_bytes(fake_onnxruntime):
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    sess = make_session(cfg, model_bytes=b"\x08onnx-model-bytes")
    assert isinstance(sess, OnnxSession)
    assert fake_onnxruntime["model_bytes"] == b"\x08onnx-model-bytes"
    assert fake_onnxruntime["providers"] == ["CPUExecutionProvider"]
    assert sess.run({"x": 1}) == [{"x": 1}]


def test_onnx_session_requires_bytes(fake_onnxruntime):
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    with pytest.raises(ValueError, match="model_bytes"):
        make_session(cfg, model_bytes=None)


class _Bc:
    """Broadcast stand-in (the heavy stage only reads .value)."""

    def __init__(self, v):
        self.value = v


def _plain_batch() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": ["c0"], "turn_idx": [0], "role": ["user"], "tool": [""],
            "kind": ["plain"], "skip_det": [""], "text": ["plain:hi"],
        }
    )


def test_heavy_stage_dispatches_onnx_session(fake_onnxruntime):
    """The fused stage builds the session from (config, broadcast bytes):
    run the mapInPandas generator directly — it is a plain function."""
    _cached_session.cache_clear()
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    bc = _Bc(b"weights!")
    out = list(extract_mod._heavy_stage({None: cfg}, bc)(iter([_plain_batch()])))
    assert fake_onnxruntime["model_bytes"] == b"weights!"
    assert len(out) == 1 and out[0]["extracted_text"].tolist() == ["hi"]
    assert _cached_session.cache_info().currsize == 1
    built = fake_onnxruntime["sessions"]
    assert isinstance(session_for(cfg, bc), OnnxSession)
    assert fake_onnxruntime["sessions"] == built  # cached, not rebuilt


def test_session_cache_keys_on_the_model_broadcast(fake_onnxruntime):
    """Python workers are reused across jobs: a second job with the same
    config but other broadcast bytes must build its own session and load
    ITS bytes, not run the first job's models."""
    _cached_session.cache_clear()
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    for bc in (_Bc(b"first job"), _Bc(b"second job")):
        list(extract_mod._heavy_stage({None: cfg}, bc)(iter([_plain_batch()])))
    assert _cached_session.cache_info().currsize == 2
    assert fake_onnxruntime["sessions"] == 2 * len(OnnxSession.ROLES)
    assert fake_onnxruntime["model_bytes"] == b"second job"


@pytest.fixture
def shaped_onnxruntime(monkeypatch):
    """Role-aware stub nets honouring the reference tensor contracts
    (VERDICT r02 item 2): det inverts the K2 normalisation and returns a
    (1,1,H,W) prob map; cls inverts K8 and returns (N,2) probs; rec
    returns (N,T,C) CTC prob sequences spelling 'AB'.  This proves the
    preprocess → session.run() → post-process WIRING — the tensors flow
    through the real DBPostProcess/K11/K10 chain — not model quality."""
    import numpy as np

    from rapidocr_spark.kernels.cls import classify_crop
    from rapidocr_spark.kernels.det import prob_map
    from rapidocr_spark.kernels.font import CHAR_TO_IDX, CHARSET
    from rapidocr_spark.kernels.preprocess import IMAGENET_MEAN, IMAGENET_STD

    class _Inp:
        name = "x"

    class FakeShapedSession:
        def __init__(self, model_bytes, sess_options=None, providers=None):
            self.role = bytes(model_bytes).decode()

        def get_inputs(self):
            return [_Inp()]

        def run(self, outs, inputs):
            x = np.asarray(inputs["x"], dtype=np.float32)
            if self.role == "det":
                # invert K2: x*std+mean, binarise (pad/background < ink)
                img = x[0].transpose(1, 2, 0) * IMAGENET_STD + IMAGENET_MEAN
                gray = ((img[:, :, 0] * 255.0) > 200).astype(np.uint8) * 255
                return [prob_map(gray)[None, None]]
            if self.role == "cls":
                out = np.zeros((x.shape[0], 2), dtype=np.float32)
                for i in range(x.shape[0]):
                    # invert K8 ((v/255-.5)/.5); the zero right-pad inverts
                    # to 127.5, so binarise above it
                    gray = (
                        ((x[i, 0] * 0.5 + 0.5) * 255.0) > 200
                    ).astype(np.uint8) * 255
                    label, score = classify_crop(gray)
                    j = 0 if label == "0" else 1
                    out[i, j] = score
                    out[i, 1 - j] = 1.0 - score
                return [out]
            assert self.role == "rec"
            a, b = CHAR_TO_IDX["A"], CHAR_TO_IDX["B"]
            t = np.zeros((5, len(CHARSET)), dtype=np.float32)
            t[0, a] = 0.95
            t[1, 0] = 1.0
            t[2, b] = 0.95
            t[3, 0] = 1.0
            t[4, 0] = 1.0
            return [np.repeat(t[None], x.shape[0], axis=0)]

    mod = types.ModuleType("onnxruntime")
    mod.InferenceSession = FakeShapedSession
    mod.SessionOptions = lambda: None
    monkeypatch.setitem(sys.modules, "onnxruntime", mod)
    return mod


def _shaped_session(cfg):
    from rapidocr_spark.kernels.session import make_session as mk

    return mk(cfg, {"det": b"det", "cls": b"cls", "rec": b"rec"})


def test_onnx_det_inference_matches_synthetic(shaped_onnxruntime):
    """backend='onnx' det: K1 resize → K2/K3 preprocess → run() → prob map
    → the full DBPostProcess chain must yield the same quads as the
    synthetic net (the stub net IS the synthetic net behind the tensor
    contract)."""
    import numpy as np

    from rapidocr_spark.kernels.det import detect
    from rapidocr_spark.kernels.render import render_lines
    from rapidocr_spark.sources.transcripts import _rand_line, _rng

    cfg = DEFAULT_CONFIG.replace(backend="onnx", det_limit_side_len=32)
    sess = _shaped_session(cfg)
    rng = _rng("golden18")
    img = render_lines([_rand_line(rng) for _ in range(18)])
    via_onnx = detect(img, cfg, session=sess)
    via_synth = detect(img, cfg.replace(backend="synthetic"))
    assert via_onnx.shape == via_synth.shape == (18, 4, 2)
    assert np.array_equal(via_onnx, via_synth)


def test_onnx_cls_inference_rotates(shaped_onnxruntime):
    """backend='onnx' cls: K8 preprocess → run() → (N,2) probs → K11
    argmax → F8 rotate gate actually rotates the 180° crop."""
    import numpy as np

    from rapidocr_spark.kernels import cls as cls_kernel
    from rapidocr_spark.kernels.render import render_line_strip

    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    sess = _shaped_session(cfg)
    strip = render_line_strip("AB")
    rot = np.rot90(strip, 2)
    out_crops, labels = cls_kernel.classify_and_rotate([strip, rot], cfg, session=sess)
    assert labels[0][0] == "0" and labels[1][0] == "180"
    assert labels[1][1] > cfg.cls_thresh
    assert np.array_equal(out_crops[1], strip)  # rotated back upright
    assert np.array_equal(out_crops[0], strip)  # untouched


def test_onnx_full_turn_spans_through_postprocessing(shaped_onnxruntime):
    """The whole backend='onnx' route: payload → decode → det(run) →
    crops → cls(run) → rec(run) → K10 CTC → F7 — spans come out of the
    real post-processing with the stub nets' content."""
    from rapidocr_spark.kernels.codec import encode_bitmap
    from rapidocr_spark.kernels.oracle import extract_turn
    from rapidocr_spark.kernels.render import render_lines
    from rapidocr_spark.sources.transcripts import _rand_line, _rng

    cfg = DEFAULT_CONFIG.replace(backend="onnx", det_limit_side_len=32)
    sess = _shaped_session(cfg)
    rng = _rng("golden18")
    payload = encode_bitmap(render_lines([_rand_line(rng) for _ in range(18)]))
    res = extract_turn(payload, cfg, session=sess)
    assert res["n_boxes"] == 18
    assert res["extracted_text"] == "\n".join(["AB"] * 18)
    # rec score is the CTC quirk mean: (0.95+0.95+1e-50)/3
    assert all(abs(s["score"] - 1.9 / 3) < 1e-6 for s in res["spans"])


def test_rec_charset_from_onnx_metadata(monkeypatch):
    """The rec charset comes from the model's own ONNX metadata when
    present ('character' key, newline-separated — P/utils.py:72-79);
    decode then uses THAT charset, not the packaged bank."""
    import numpy as np

    class _Meta:
        custom_metadata_map = {"character": "X\nY"}

    class _Inp:
        name = "x"

    class FakeMetaSession:
        def __init__(self, model_bytes, sess_options=None, providers=None):
            pass

        def get_inputs(self):
            return [_Inp()]

        def get_modelmeta(self):
            return _Meta()

        def run(self, outs, inputs):
            x = np.asarray(inputs["x"])
            t = np.zeros((3, 4), dtype=np.float32)  # blank, X, Y, space
            t[0, 1] = 0.9
            t[1, 0] = 1.0
            t[2, 2] = 0.9
            return [np.repeat(t[None], x.shape[0], 0)]

    mod = types.ModuleType("onnxruntime")
    mod.InferenceSession = FakeMetaSession
    mod.SessionOptions = lambda: None
    monkeypatch.setitem(sys.modules, "onnxruntime", mod)

    from rapidocr_spark.kernels import rec as rec_kernel
    from rapidocr_spark.kernels.session import make_session as mk

    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    sess = mk(cfg, b"model")
    assert sess.rec_charset() == ["blank", "X", "Y", " "]
    crop = np.zeros((10, 20), dtype=np.uint8)
    assert rec_kernel.recognize([crop], cfg, session=sess)[0][0] == "XY"


def test_heavy_stage_default_synthetic():
    _cached_session.cache_clear()
    list(extract_mod._heavy_stage({None: DEFAULT_CONFIG}, None)(iter([_plain_batch()])))
    assert _cached_session.cache_info().currsize == 1
    assert isinstance(session_for(DEFAULT_CONFIG), SyntheticSession)
    assert _cached_session.cache_info().hits == 1


def test_onnx_missing_role_raises_at_build(fake_onnxruntime):
    """ADVICE r03 item 3: a partial role dict must fail at session build
    with the missing role named, not as an executor-side KeyError."""
    cfg = DEFAULT_CONFIG.replace(backend="onnx")
    with pytest.raises(ValueError, match=r"\['cls', 'rec'\]"):
        make_session(cfg, model_bytes={"det": b"d"})
    with pytest.raises(ValueError, match=r"\['rec'\]"):
        make_session(cfg, model_bytes={"det": b"d", "cls": b"c"})

