"""Hand-built ONNX model file driving det_prob (VERDICT r04 item 6).

No onnx/onnxruntime/protobuf ships in this sandbox, so the repo writes
the protobuf wire format itself (kernels/onnx_mini.py), parses it back
with its own reader, and executes the graph with numpy — the bytes are
genuine ONNX a real InferenceSession would accept unchanged."""

from __future__ import annotations

import numpy as np
import pytest

from rapidocr_spark.kernels.onnx_mini import (
    _attr_int, _attr_ints, _node, _tensor, _value_info,
    build_det_model, build_model, parse_model, run_model,
)
from rapidocr_spark.kernels.onnx_models import MiniOnnxSession, build_default_model_set
from rapidocr_spark.plans.shell import EXTRACT_CFG


def test_wire_format_round_trip():
    mb = build_det_model(charset="正\n品\nA")
    m = parse_model(mb)
    assert m["ir_version"] == 8
    assert m["producer"] == "rapidocr_spark.onnx_mini"
    assert m["opset"] == [("", 13)]
    assert m["metadata"]["character"] == "正\n品\nA"
    g = m["graph"]
    assert [n["op_type"] for n in g["nodes"]] == ["Greater", "Cast", "Conv", "Clip"]
    assert g["inputs"] == ["x"] and g["outputs"] == ["prob"]
    assert g["initializers"]["W"].shape == (1, 3, 3, 5)
    assert g["initializers"]["T"].shape == (3, 1, 1)
    conv = g["nodes"][2]
    assert conv["attrs"]["kernel_shape"] == [3, 5]
    assert conv["attrs"]["pads"] == [1, 2, 1, 2]


def test_charset_metadata_mirrors_rec_charset_assembly():
    """metadata_props['character'] is the key OnnxSession.rec_charset reads
    (P/utils.py:72-79): blank prepended, space appended."""
    m = parse_model(build_det_model(charset="a\nb"))
    chars = m["metadata"]["character"]
    assert ["blank"] + chars.splitlines() + [" "] == ["blank", "a", "b", " "]


def test_executor_conv_matches_direct_numpy():
    rng = np.random.default_rng(11)
    x = rng.normal(size=(2, 3, 9, 11)).astype(np.float32)
    w = rng.normal(size=(4, 3, 3, 3)).astype(np.float32)
    b = rng.normal(size=(4,)).astype(np.float32)
    nodes = [
        _node(
            "Conv", ["x", "W", "B"], ["y"],
            [_attr_ints("kernel_shape", [3, 3]), _attr_ints("pads", [1, 1, 1, 1]),
             _attr_ints("strides", [1, 1])],
        ),
        _node("Relu", ["y"], ["z"]),
    ]
    mb = build_model(
        nodes,
        [_value_info("x", 1, ["N", 3, "H", "W"])],
        [_value_info("z", 1, ["N", 4, "H", "W"])],
        [_tensor("W", w), _tensor("B", b)],
    )
    got = run_model(mb, {"x": x})["z"]
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1), (1, 1)))
    ref = np.zeros((2, 4, 9, 11), dtype=np.float32)
    for n in range(2):
        for m_ in range(4):
            for yy in range(9):
                for xx in range(11):
                    ref[n, m_, yy, xx] = (
                        xp[n, :, yy : yy + 3, xx : xx + 3] * w[m_]
                    ).sum() + b[m_]
    ref = np.maximum(ref, 0)
    assert np.allclose(got, ref, atol=1e-4)


@pytest.mark.parametrize("case", ["two_lines", "many", "rotated_canvas"])
def test_hand_built_model_drives_det_identically(case):
    """detect() with the serialized-model session must emit the same quads
    as the synthetic net — the real-model-bytes tensor contract
    (normalize → CHW → NCHW batch → out[0][0,0]) end to end."""
    from rapidocr_spark.kernels.det import detect, prob_map, det_resize_for_test
    from rapidocr_spark.kernels.render import render_lines

    imgs = {
        "two_lines": render_lines(["Hello world test", "second line here"]),
        "many": render_lines([f"line number {i}" for i in range(6)]),
        "rotated_canvas": np.rot90(render_lines(["flip me", "and me"]), 2).copy(),
    }
    img = imgs[case]
    sess = MiniOnnxSession(EXTRACT_CFG, build_default_model_set())
    resized, _, _ = det_resize_for_test(img, EXTRACT_CFG)
    assert np.abs(sess.det_prob(resized) - prob_map(resized)).max() < 1e-6
    ref = detect(img, EXTRACT_CFG)
    got = detect(img, EXTRACT_CFG, session=sess)
    assert np.array_equal(ref, got)


def test_noise_image_yields_no_boxes_through_model():
    """The reference's zeros-image→None contract (test_all_ort.py:38-41)
    holds through the real model bytes too."""
    from rapidocr_spark.kernels.det import detect
    from rapidocr_spark.kernels.render import render_noise

    img = render_noise(64, 96, seed=42)
    sess = MiniOnnxSession(EXTRACT_CFG, build_default_model_set())
    assert detect(img, EXTRACT_CFG, session=sess).shape[0] == 0


def test_if_subgraphs_roundtrip_and_lazy_branches():
    """If support (the rec search short-circuit): GRAPH attributes survive
    the wire round-trip, the executor runs ONLY the selected branch
    (proven by putting an unsupported op in the untaken one), nesting
    works, and outer-scope capture reaches main-graph initializers."""
    from rapidocr_spark.kernels.onnx_mini import (
        GraphBuilder, _DT_FLOAT, _DT_INT64, _value_info, build_model, run_model,
        _node, _attr_graph, _graph_proto,
    )

    g = GraphBuilder()
    thr = g.cf(5.0)                       # main-graph initializer,
    cond = g.gt("x", thr)                 # captured by both branches
    g.push()
    ty = g.mul("x", g.cf(2.0))
    tb = g.pop([(ty, _DT_FLOAT, [])])
    g.push()
    # nested If inside the else branch
    c2 = g.gt("x", g.cf(1.0))
    g.push(); a1 = g.add("x", thr); b1 = g.pop([(a1, _DT_FLOAT, [])])
    g.push(); a2 = g.sub("x", thr); b2 = g.pop([(a2, _DT_FLOAT, [])])
    (ey,) = g.if_(c2, b1, b2, 1)
    eb = g.pop([(ey, _DT_FLOAT, [])])
    (y,) = g.if_(cond, tb, eb, 1)
    mb = build_model(
        g.nodes, [_value_info("x", _DT_FLOAT, [])],
        [_value_info(y, _DT_FLOAT, [])], g.inits)
    for x, exp in [(7.0, 14.0), (3.0, 8.0), (0.5, -4.5)]:
        assert float(run_model(mb, {"x": np.float32(x)})[y]) == exp

    # lazy branches: the untaken branch contains an op the executor would
    # reject — it must never execute
    g2 = GraphBuilder()
    c = g2.gt("x", g2.cf(0.0))
    g2.push(); ok = g2.mul("x", g2.cf(3.0)); okb = g2.pop([(ok, _DT_FLOAT, [])])
    bad = _graph_proto([_node("NoSuchOp", ["x"], ["bad_out"])],
                       [_value_info("bad_out", _DT_FLOAT, [])])
    (z,) = g2.if_(c, okb, bad, 1)
    mb2 = build_model(
        g2.nodes, [_value_info("x", _DT_FLOAT, [])],
        [_value_info(z, _DT_FLOAT, [])], g2.inits)
    assert float(run_model(mb2, {"x": np.float32(2.0)})[z]) == 6.0
    with pytest.raises(ValueError, match="NoSuchOp"):
        run_model(mb2, {"x": np.float32(-2.0)})

    # branch-local writes must not leak to the outer scope
    g3 = GraphBuilder()
    c3 = g3.gt("x", g3.cf(0.0))
    g3.push(); w1 = g3.mul("x", g3.cf(2.0)); gb1 = g3.pop([(w1, _DT_FLOAT, [])])
    g3.push(); w2 = g3.mul("x", g3.cf(4.0)); gb2 = g3.pop([(w2, _DT_FLOAT, [])])
    (o3,) = g3.if_(c3, gb1, gb2, 1)
    out = g3.add(o3, g3.cf(0.0))
    mb3 = build_model(
        g3.nodes, [_value_info("x", _DT_FLOAT, [])],
        [_value_info(out, _DT_FLOAT, [])], g3.inits)
    assert float(run_model(mb3, {"x": np.float32(3.0)})[out]) == 6.0
