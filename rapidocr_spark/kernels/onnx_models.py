"""Genuine-ONNX cls/rec models + the full three-role session (S5 chain-real).

Round-5 verdict item 1: ``onnx_mini`` proved the DET head runs from parsed
ONNX bytes; this module serialises the CLS (orientation) and REC (CTC
recognition) synthetic nets as real ONNX graphs too, so the ENTIRE
det→cls→rec chain executes from model bytes shipped over a Spark broadcast
— the reference's three-model layout (config.yaml model paths per stage;
session contracts ch_ppocr_v2_cls/text_cls.py:56-61 → (N,2) orientation
probs, ch_ppocr_v3_rec/text_recognize.py:63-68 → (N,T,C) CTC prob
sequences, charset from model metadata per utils.py:72-79).

Exactness contract: ``x_extract_onnx`` (plans/shell.py) must equal
``x_extract_turns`` bit-for-bit, so each graph reproduces its synthetic
kernel EXACTLY.  One documented carve-out: an EMPTY-LINE decode scores
0.0 on the synthetic path but 1e-50 through the model (an all-blank CTC
row mean is 1e-50 by the A2 quirk).  Both fail the F7 text-score filter
identically, so no gated query can observe the gap — but any future query
surfacing RAW rec scores of empty decodes would diverge between
backend='synthetic' and 'onnx_mini'.  Per-graph contracts:

- cls (kernels/cls.py classify_crop): ink row-profile → underline = argmax,
  centroid, margin sign with the ±3px dead zone.  The |margin| < 3 float
  comparison is re-expressed in exact integer arithmetic
  (|u·total − Σy·r_y| ⋛ 3·total), provably equivalent to the float64
  original (the boundary case is an exact integer equality).
- rec (kernels/rec.py): the strict scale-1 glyph-grid template match AND
  the scale/offset-tolerant search (scales {1,2,3} × ±2px offsets,
  k×k majority vote, thickness-guessed scale order, strictly-less update
  + early stop) — every tie rule preserved (ArgMin = first minimum, the
  spec's select_last_index=0).  Hamming template matching is expressed as
  Gather + MatMul over {0,1} cells (d = Σcell + Σglyph − 2·cell·glyph),
  exact in float32 (all values ≤ 70) and ~60× cheaper than the equivalent
  dilated-Conv distance field over the full canvas.

Input contract note: the reference's K8/K9 fronts RESIZE crops to height
48 — a lossy resample a trained CRNN is invariant to but a deterministic
template net is NOT.  These models therefore declare a native-resolution
input (1,1,H,W) in their graphs (symbolic H/W dims), normalised with the
same (x/255 − .5)/.5 scheme as K8/K9; ink is exactly v > 127 ⇔ x > 0.
Output contracts match the reference: cls (N,2), rec (N,T,C) with T fixed
(pure-blank rows pad short lines — decode-invariant under K10's
blank-drop).  Everything here is public knowledge (ONNX operator spec +
protobuf wire format).
"""

from __future__ import annotations

import numpy as np

from .font import BLANK_IDX, CELL_W, CHARSET, GLYPH_H, GLYPH_W, glyph_bank
from .onnx_mini import (
    _DT_FLOAT,
    _DT_INT64,
    GraphBuilder,
    _attr_ints,
    _value_info,
    build_det_model,
    build_model,
    execute_graph,
    parse_model,
)
from .rec import CONF_APPROX, CONF_MATCH, CONF_MISS, REC_TOL

# rec output time axis: 3 CTC steps per cell ([c, c, blank]); lines longer
# than REC_MAX_CELLS cells cannot occur in the fixture corpus (asserted by
# tests against the widest rendered line)
REC_MAX_CELLS = 128
REC_T = 3 * REC_MAX_CELLS
_C = len(CHARSET)
_BIG2 = 1.0e6   # masks invalid offsets out of the per-offset argmin
_INF = 1.0e9    # "scale not attempted" sentinel in the scale-order fold


def _preamble(g: GraphBuilder):
    """Shared front: x (1,1,H,W) float32 → ink mask + row profile scalars.

    Returns (m_f float (H,W), m_i int64 (H,W), r int64 (H,), total (),
    ur (), has_ink bool ())."""
    zf = g.cf(0.0)
    mb = g.gt("x", zf)                       # ink ⇔ v > 127 ⇔ x > 0
    mb2 = g.squeeze(mb, [0, 1])              # (H, W) bool
    m_f = g.f32(mb2)
    m_i = g.i64(mb2)
    r = g.rsum(m_i, [1])                     # (H,) row sums
    total = g.rsum(r, [0])                   # ()
    ur = g.argmax(r, axis=0)                 # () first densest row
    has = g.gt(total, g.ci(0))
    return m_f, m_i, r, total, ur, has


def build_cls_model() -> bytes:
    """classify_crop (kernels/cls.py:27-39) as a real ONNX graph.

    margin = underline − centroid over the ink row profile; the graph
    computes sign/deadzone in exact int64: decisive-0 ⇔ u·T − Σy·r ≥ 3T,
    decisive-180 ⇔ Σy·r − u·T ≥ 3T, else ambiguous (also when no ink).
    probs = [0.97, 0] / [0, 0.97] / [0.55, 0] respectively — K11 argmax
    post-processing (text_cls.py:50-68) recovers exactly the synthetic
    (label, score)."""
    g = GraphBuilder()
    _m_f, _m_i, r, total, ur, has = _preamble(g)
    hh = g.gather(g.shape_of("x"), g.ci(2))        # H scalar
    ys = g.range_(g.ci(0), hh, g.ci(1))            # (H,)
    wsum = g.rsum(g.mul(r, ys), [0])               # Σ y·r_y
    lhs = g.sub(g.mul(ur, total), wsum)            # u·T − Σy·r
    rhs = g.mul(g.ci(3), total)                    # 3T (margin dead zone)
    dpos = g.and_(has, g.ge(lhs, rhs))
    dneg = g.and_(has, g.ge(g.neg(lhs), rhs))
    fpos, fneg = g.f32(dpos), g.f32(dneg)
    onef = g.cf(1.0)
    amb = g.mul(g.sub(onef, fpos), g.sub(onef, fneg))
    p0 = g.add(g.mul(g.cf(0.97), fpos), g.mul(g.cf(0.55), amb))
    p1 = g.mul(g.cf(0.97), fneg)
    pair = g.concat([g.unsqueeze(p0, [0]), g.unsqueeze(p1, [0])], axis=0)
    g.op("Unsqueeze", pair, g.init(np.asarray([0], dtype=np.int64)), out="probs")
    inputs = [_value_info("x", _DT_FLOAT, [1, 1, "H", "W"])]
    outputs = [_value_info("probs", _DT_FLOAT, [1, 2])]
    return build_model(g.nodes, inputs, outputs, g.inits, graph_name="cls_probs")


def _hamming_block(g: GraphBuilder, cells70: str, bank_t: str, gsum: str, blank_bias: str) -> str:
    """(n, 70) {0,1} cells → (n, C) hamming distances to the glyph bank,
    blank class pushed out of reach: d = Σcell + Σglyph − 2·cell·glyphᵀ
    (+72 on blank — blank's d equals Σcell+72 ≥ 72 > 70 ≥ any real d, so
    it can never win the first-min argmin, the big=71 exclusion of
    kernels/rec.py:75)."""
    dot = g.op("MatMul", cells70, bank_t)                     # (n, C)
    cs = g.rsum(cells70, [1], keepdims=1)                     # (n, 1)
    d = g.sub(g.add(cs, gsum), g.mul(g.cf(2.0), dot))
    return g.add(d, blank_bias)


def build_rec_model() -> bytes:
    """recognize_crop (kernels/rec.py:203-224) as a real ONNX graph:
    strict scale-1 grid match, the {1,2,3}-scale ±2px-offset search with
    k×k majority voting, thickness-guessed scale order with strictly-less
    update + early stop, and the [c, c, blank] CTC expansion.  Output
    'probs' (1, REC_T, C) — rows past the line's cells are pure blank
    (prob 1 at index 0), which K10's greedy decode provably ignores.
    Charset rides in metadata_props['character'] (newline-joined, blank/
    space added by the reader per the reference contract)."""
    bank = glyph_bank().astype(np.float32)            # (C, 10, 7)
    g = GraphBuilder()
    m_f, m_i, r, total, ur, has = _preamble(g)

    ci0, ci1, ci2 = g.ci(0), g.ci(1), g.ci(2)
    sh = g.shape_of("x")
    hh = g.gather(sh, g.ci(2))
    ww = g.gather(sh, g.ci(3))

    # ---- line extent on the underline row ---------------------------------
    rowur = g.gather(m_i, ur, axis=0)                       # (W,)
    x0 = g.argmax(rowur, axis=0)                            # first ink col
    rev = g.slice_(rowur, g.init(np.asarray([-1], dtype=np.int64)),
                   g.init(np.asarray([-(2 ** 62)], dtype=np.int64)), [0], [-1])
    x1 = g.sub(g.sub(ww, ci1), g.argmax(rev, axis=0))       # last ink col

    # ---- shared constants --------------------------------------------------
    bank_t = g.init(bank.reshape(_C, GLYPH_H * GLYPH_W).T.copy())   # (70, C)
    gsum = g.init(bank.sum(axis=(1, 2)).reshape(1, _C))             # (1, C)
    bb = np.zeros((_C,), dtype=np.float32)
    bb[BLANK_IDX] = GLYPH_H * GLYPH_W + 2.0
    blank_bias = g.init(bb)
    jr = g.range_(ci0, g.ci(REC_MAX_CELLS), ci1)            # (MAX,)
    range_c = g.init(np.arange(_C, dtype=np.int64).reshape(1, _C))
    ar7 = g.init(np.arange(GLYPH_W, dtype=np.int64).reshape(1, GLYPH_W))
    ar10 = g.init(np.arange(GLYPH_H, dtype=np.int64).reshape(1, GLYPH_H))
    c_match, c_appr, c_miss = g.cf(CONF_MATCH), g.cf(CONF_APPROX), g.cf(CONF_MISS)
    zf, onef = g.cf(0.0), g.cf(1.0)

    mp = g.pad2d_rb(m_f, bottom=0, right=32)                # zero pad right
    wp1 = g.sub(g.gather(g.shape_of(mp), ci1), ci1)         # last col of mp

    def onehot_rows(best_c: str, conf: str) -> str:
        oh = g.f32(g.eq(range_c, g.unsqueeze(best_c, [1])))  # (MAX, C)
        return g.mul(oh, g.unsqueeze(conf, [1]))

    # ---- strict scale-1 grid match (kernels/rec.py:47-85) ------------------
    n_s = g.div(g.add(g.sub(x1, x0), ci2), g.ci(CELL_W))
    v_s = g.and_(g.and_(has, g.ge(ur, g.ci(GLYPH_H))), g.ge(n_s, ci1))
    gy0 = g.emax(g.sub(ur, g.ci(GLYPH_H)), ci0)
    hp1 = g.sub(g.gather(g.shape_of(mp), ci0), ci1)      # last row of mp
    rs_idx = g.emin(
        g.add(g.unsqueeze(gy0, [0]), g.squeeze(ar10, [0])), hp1
    )                                                    # (10,) clamped for
    # crops shorter than GLYPH_H (v_s is false there; gather must not trap)
    rows_g = g.gather(mp, rs_idx, axis=0)                            # (10, Wp)
    cb = g.add(g.unsqueeze(g.add(x0, g.mul(jr, g.ci(CELL_W))), [1]), ar7)  # (MAX,7)
    cb_c = g.emax(g.emin(cb, wp1), ci0)
    cells_s = g.gather(rows_g, cb_c, axis=1)                         # (10, MAX, 7)
    cells_s = g.reshape(g.transpose(cells_s, [1, 0, 2]), [REC_MAX_CELLS, GLYPH_H * GLYPH_W])
    d_s = _hamming_block(g, cells_s, bank_t, gsum, blank_bias)       # (MAX, C)
    best_c_s = g.argmin(d_s, axis=1)
    best_d_s = g.rmin(d_s, [1])
    jm_s = g.lt(jr, n_s)                                             # (MAX,) bool
    nonexact = g.gt(
        g.rmax(g.i64(g.and_(jm_s, g.not_(g.eq(best_d_s, zf)))), [0]), ci0
    )
    strict_ok = g.and_(v_s, g.not_(nonexact))
    conf_s = g.where(g.eq(best_d_s, zf), c_match, c_miss)
    rows_s = onehot_rows(best_c_s, conf_s)

    # ---- search (kernels/rec.py:88-200) as ONNX If control flow ------------
    # The first chain-real round computed ALL THREE scale hypotheses per
    # crop and gated the fold with run/stop booleans; this version encodes
    # the reference's actual control flow with If subgraphs: a strict
    # scale-1 hit skips the whole search, and the thickness-guessed first
    # scale early-stops the rest ("if best_total <= n_cells: break").  The
    # executor runs only the selected branch, so a typical crop executes
    # one hamming block instead of four — bit-identical by construction
    # (each branch IS the expression DAG the fold used to gate).
    inf = g.cf(_INF)

    def _rows_vi(nm: str):
        return (nm, _DT_FLOAT, [REC_MAX_CELLS, _C])

    def _nc_vi(nm: str):
        return (nm, _DT_INT64, [])

    def _best_vi(nm: str):
        return (nm, _DT_FLOAT, [])

    def emit_k(k: int) -> dict[str, str]:
        kGH = k * GLYPH_H
        # k×k block-majority mask at every stride-1 anchor: 2·Σblock > k²
        ones_k = g.init(np.ones((1, 1, k, k), dtype=np.float32))
        s_k = g.op(
            "Conv", band4, ones_k,
            attrs=[_attr_ints("kernel_shape", [k, k]),
                   _attr_ints("pads", [0, 0, 0, 0]),
                   _attr_ints("strides", [1, 1])],
        )
        g_k = g.squeeze(g.f32(g.gt(g.mul(g.cf(2.0), s_k), g.cf(float(k * k)))), [0, 1])
        # n_cells = round((x1−x0+1+k) / (8k)) with python round's HALF_EVEN
        a = g.add(g.add(g.sub(x1, x0), ci1), g.ci(k))
        bconst = g.ci(k * CELL_W)
        q = g.div(a, bconst)
        two_r = g.mul(ci2, g.sub(a, g.mul(q, bconst)))
        q_odd = g.eq(g.op("Mod", q, ci2), ci1)
        bump = g.or_(g.gt(two_r, bconst), g.and_(g.eq(two_r, bconst), q_odd))
        n_c = g.add(q, g.i64(bump))
        # offset validity against the ORIGINAL crop extent
        cy_v = g.add(g.sub(ur, g.ci(kGH)), doff)                      # (5,)
        cx_v = g.add(x0, doff)                                        # (5,)
        vrow = g.and_(g.ge(cy_v, ci0), g.le(g.add(cy_v, g.ci(kGH)), hh))
        vcol = g.ge(cx_v, ci0)
        vo = g.and_(g.unsqueeze(vrow, [1]), g.unsqueeze(vcol, [0]))   # (5,5)
        anyoff = g.gt(g.rmax(g.i64(vo), [0, 1]), ci0)
        v_k = g.and_(g.and_(g.and_(has, g.ge(ur, g.ci(kGH))), g.ge(n_c, ci1)), anyoff)
        # gather the 25-offset cell stack from the majority mask
        hk1 = g.sub(g.gather(g.shape_of(g_k), ci0), ci1)
        wk1 = g.sub(g.gather(g.shape_of(g_k), ci1), ci1)
        cyb = g.sub(cy_v, rb)                                         # band coords
        ridx = g.add(g.unsqueeze(cyb, [1]), g.mul(g.ci(k), ar10))     # (5,10)
        ridx = g.emax(g.emin(ridx, hk1), ci0)
        gr = g.gather(g_k, ridx, axis=0)                              # (5,10,Wk)
        cell_mat = g.add(
            g.unsqueeze(g.mul(jr, g.ci(k * CELL_W)), [1]), g.mul(g.ci(k), ar7)
        )                                                             # (MAX,7)
        cidx = g.add(g.unsqueeze(cx_v, [1, 2]), g.unsqueeze(cell_mat, [0]))  # (5,MAX,7)
        cidx = g.emax(g.emin(cidx, wk1), ci0)
        gc = g.gather(gr, cidx, axis=2)                               # (5,10,5,MAX,7)
        cells = g.reshape(
            g.transpose(gc, [0, 2, 3, 1, 4]), [25 * REC_MAX_CELLS, GLYPH_H * GLYPH_W]
        )
        d = _hamming_block(g, cells, bank_t, gsum, blank_bias)
        d = g.reshape(d, [25, REC_MAX_CELLS, _C])
        dmin = g.rmin(d, [2])                                         # (25,MAX)
        cmin = g.argmin(d, axis=2)                                    # (25,MAX)
        vo25 = g.reshape(vo, [25, 1])
        dmin_m = g.where(vo25, dmin, g.cf(_BIG2))
        off_star = g.argmin(dmin_m, axis=0)                           # (MAX,)
        best_d = g.rmin(dmin_m, [0])                                  # (MAX,)
        best_c = g.squeeze(
            g.gather_elements(cmin, g.unsqueeze(off_star, [0]), axis=0), [0]
        )
        exact = g.eq(best_d, zf)
        if k > 1:
            appr = g.and_(g.not_(exact), g.le(best_d, g.cf(float(REC_TOL))))
            conf = g.where(exact, c_match, g.where(appr, c_appr, c_miss))
        else:
            conf = g.where(exact, c_match, c_miss)
        jm_f = g.f32(g.lt(jr, n_c))
        tot = g.rsum(g.mul(g.emin(best_d, g.cf(35.0)), jm_f), [0])    # ()
        return {
            "rows": onehot_rows(best_c, conf),
            "n_c": n_c,
            "ncf": g.f32(n_c),
            "v": v_k,
            "tot": tot,
        }

    def emit_seq(ka: int, kb: int, kc: int) -> list[str]:
        """One scale order as nested Ifs: run ka; stop if its total beats
        its n_cells ("if best_total <= n_cells: break" checks the CURRENT
        scale's n_cells, and only when that scale actually ran — an
        invalid scale is a 'continue', not a break check); else run kb
        with the strictly-less update, re-check, else run kc.  Returns
        (rows, n_c, best_total) — found is best < inf, decided by the
        caller."""
        A = emit_k(ka)
        ta = g.where(A["v"], A["tot"], inf)
        stopa = g.and_(A["v"], g.le(A["tot"], A["ncf"]))
        g.push()
        sa = (g.identity(A["rows"]), g.identity(A["n_c"]), g.identity(ta))
        then_a = g.pop([_rows_vi(sa[0]), _nc_vi(sa[1]), _best_vi(sa[2])])
        g.push()
        B = emit_k(kb)
        tb = g.where(B["v"], B["tot"], inf)
        updb = g.lt(tb, ta)
        bestab = g.emin(ta, tb)
        rows_ab = g.where(updb, B["rows"], A["rows"])
        nc_ab = g.where(updb, B["n_c"], A["n_c"])
        chkb = g.and_(B["v"], g.le(bestab, B["ncf"]))
        g.push()
        sb = (g.identity(rows_ab), g.identity(nc_ab), g.identity(bestab))
        then_b = g.pop([_rows_vi(sb[0]), _nc_vi(sb[1]), _best_vi(sb[2])])
        g.push()
        C = emit_k(kc)
        tc = g.where(C["v"], C["tot"], inf)
        updc = g.lt(tc, bestab)
        rows3 = g.where(updc, C["rows"], rows_ab)
        nc3 = g.where(updc, C["n_c"], nc_ab)
        best3 = g.emin(bestab, tc)
        else_b = g.pop([_rows_vi(rows3), _nc_vi(nc3), _best_vi(best3)])
        r2 = g.if_(chkb, then_b, else_b, 3)
        else_a = g.pop([_rows_vi(r2[0]), _nc_vi(r2[1]), _best_vi(r2[2])])
        return g.if_(stopa, then_a, else_a, 3)

    # ---- top-level strict short-circuit (recognize_crop, rec.py:209) -------
    g.push()
    st = (g.identity(rows_s), g.identity(n_s))
    strict_branch = g.pop([_rows_vi(st[0]), _nc_vi(st[1])])

    g.push()
    # the search-only machinery lives on this branch: underline-thickness
    # scale guess (thick grows while the row above keeps ≥ half the
    # underline's ink — 2·r[ur−i] ≥ r[ur], exact ints; k_guess = thick
    # clamped to [1, 3]) and the shared row band (k=3 grid + ±2 offsets)
    r_ur = g.gather(r, ur)
    um1 = g.gather(r, g.emax(g.sub(ur, ci1), ci0))
    um2 = g.gather(r, g.emax(g.sub(ur, ci2), ci0))
    t1 = g.and_(g.ge(ur, ci1), g.ge(g.mul(ci2, um1), r_ur))
    t2 = g.and_(t1, g.and_(g.ge(ur, ci2), g.ge(g.mul(ci2, um2), r_ur)))
    kg = g.add(g.add(ci1, g.i64(t1)), g.i64(t2))
    rb = g.emax(g.sub(ur, g.ci(32)), ci0)
    band = g.slice_(mp, g.unsqueeze(rb, [0]), g.unsqueeze(g.add(ur, g.ci(3)), [0]), [0])
    band = g.pad2d_rb(band, bottom=4, right=0)
    band4 = g.unsqueeze(band, [0, 1])
    doff = g.init(np.asarray([-2, -1, 0, 1, 2], dtype=np.int64))      # (5,)

    # scale order = [k_guess] + remaining ascending (rec.py:119):
    # kg=1 → (1,2,3), kg=2 → (2,1,3), kg=3 → (3,1,2) — dispatched as Ifs
    # so only ONE sequence's blocks execute
    g.push()
    r123 = emit_seq(1, 2, 3)
    seq123 = g.pop([_rows_vi(r123[0]), _nc_vi(r123[1]), _best_vi(r123[2])])
    g.push()
    g.push()
    r213 = emit_seq(2, 1, 3)
    seq213 = g.pop([_rows_vi(r213[0]), _nc_vi(r213[1]), _best_vi(r213[2])])
    g.push()
    r312 = emit_seq(3, 1, 2)
    seq312 = g.pop([_rows_vi(r312[0]), _nc_vi(r312[1]), _best_vi(r312[2])])
    r23 = g.if_(g.eq(kg, ci2), seq213, seq312, 3)
    seq23 = g.pop([_rows_vi(r23[0]), _nc_vi(r23[1]), _best_vi(r23[2])])
    sel_rows, sel_nc, best = g.if_(g.eq(kg, ci1), seq123, seq23, 3)

    # strict/search merge on the no-strict branch (rec.py:209-216):
    # strict_ok is false here, so use_search reduces to found
    found = g.lt(best, inf)
    fin_rows_s = g.where(found, sel_rows, rows_s)
    fin_nc_s = g.where(found, sel_nc, n_s)
    exists_s = g.or_(found, v_s)
    eff_nc_s = g.where(exists_s, fin_nc_s, ci0)
    search_branch = g.pop([_rows_vi(fin_rows_s), _nc_vi(eff_nc_s)])

    fin_rows, eff_nc = g.if_(strict_ok, strict_branch, search_branch, 2)
    jmf = g.unsqueeze(g.f32(g.lt(jr, eff_nc)), [1])                   # (MAX,1)
    blank_row = np.zeros((1, _C), dtype=np.float32)
    blank_row[0, BLANK_IDX] = 1.0
    br = g.init(blank_row)
    rows_fin = g.add(g.mul(fin_rows, jmf), g.mul(br, g.sub(onef, jmf)))

    # ---- [c, c, blank] CTC expansion (rec.py:218-223) -----------------------
    r3 = g.unsqueeze(rows_fin, [1])                                   # (MAX,1,C)
    blanks = g.add(g.mul(r3, zf), g.unsqueeze(br, [0]))               # (MAX,1,C)
    trip = g.concat([r3, r3, blanks], axis=1)                         # (MAX,3,C)
    g.op(
        "Reshape", trip,
        g.init(np.asarray([1, REC_T, _C], dtype=np.int64)),
        out="probs",
    )
    inputs = [_value_info("x", _DT_FLOAT, [1, 1, "H", "W"])]
    outputs = [_value_info("probs", _DT_FLOAT, [1, REC_T, _C])]
    meta = {"character": "\n".join(CHARSET[1:-1])}
    return build_model(g.nodes, inputs, outputs, g.inits, graph_name="rec_probs", metadata=meta)


def build_default_model_set() -> dict[str, bytes]:
    """The broadcast-ready three-role model dict (det/cls/rec), all genuine
    ONNX bytes — the engine analog of the reference's three model files."""
    return {
        "det": build_det_model(),
        "cls": build_cls_model(),
        "rec": build_rec_model(),
    }


def _pm_half(crop: np.ndarray) -> np.ndarray:
    """(h, w) uint8 → (1, 1, h, w) float32 with the K8/K9 (x/255−.5)/.5
    normalisation (ink ⇔ v > 127 ⇔ x > 0, exactly)."""
    x = (crop.astype(np.float32) / 255.0 - 0.5) / 0.5
    return x[None, None]


class MiniOnnxSession:
    """Full det+cls+rec session over parsed ONNX model bytes — the
    backend='onnx_mini' target of kernels/session.make_session.

    It has the four heads every session has, so det/cls/rec run ALL THREE
    inference steps through the serialized models; graphs are parsed ONCE
    per session (once per executor, via kernels/session.session_for) and
    executed per input by the in-repo numpy executor."""

    ROLES = ("det", "cls", "rec")

    def __init__(self, cfg, model_bytes: dict[str, bytes]):
        if not isinstance(model_bytes, dict):
            raise ValueError("onnx_mini needs a {'det','cls','rec'} bytes dict")
        missing = set(self.ROLES) - set(model_bytes)
        if missing:
            raise ValueError(f"onnx_mini model_bytes missing role(s) {sorted(missing)}")
        parsed = {role: parse_model(model_bytes[role]) for role in self.ROLES}
        self._graphs = {role: parsed[role]["graph"] for role in self.ROLES}
        self._rec_meta = parsed["rec"]["metadata"]
        self.cfg = cfg

    def det_prob(self, resized: np.ndarray) -> np.ndarray:
        from .preprocess import normalize_image, to_chw

        x = to_chw(normalize_image(resized))[None].astype(np.float32)
        out = execute_graph(self._graphs["det"], {"x": x})["prob"]
        return np.asarray(out)[0, 0].astype(np.float32)

    def cls_probs(self, crops: list) -> np.ndarray:
        rows = [
            execute_graph(self._graphs["cls"], {"x": _pm_half(c)})["probs"][0]
            for c in crops
        ]
        return np.stack(rows).astype(np.float32)

    def rec_probs(self, crops: list, max_wh_ratio: float) -> np.ndarray:
        del max_wh_ratio  # A3 dynamic width is a resize-front concept; the
        # native-resolution models take each crop at its own (h, w)
        rows = [
            execute_graph(self._graphs["rec"], {"x": _pm_half(c)})["probs"][0]
            for c in crops
        ]
        return np.stack(rows).astype(np.float32)

    def rec_charset(self) -> list[str] | None:
        chars = self._rec_meta.get("character")
        if not chars:
            return None
        return ["blank"] + chars.splitlines() + [" "]
