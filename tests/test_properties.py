"""Property-based tests (hypothesis) for the round-2 kernels whose
correctness is geometric/combinatorial rather than golden-value-shaped:
min-area rect, perspective warp, the ntile closed form, and the KMV
two-level k-smallest reduction."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rapidocr_spark.kernels.geometry import (
    convex_hull, min_area_rect, perspective_matrix, warp_quad,
)

pts_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),
        st.integers(min_value=0, max_value=200),
    ),
    min_size=3,
    max_size=40,
).filter(lambda ps: len({p for p in ps}) >= 3)


@settings(max_examples=60, deadline=None)
@given(pts_strategy)
def test_min_area_rect_contains_all_points(ps):
    pts = np.array(ps, dtype=np.float64)
    box, sside = min_area_rect(pts)
    q = box.astype(np.float64)
    # every input point is inside the rect (clockwise quad in y-down coords
    # → interior cross products >= 0), with float tolerance
    for p in pts:
        for i in range(4):
            a, b = q[i], q[(i + 1) % 4]
            cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
            # box corners are float32 → cross products at 200px scale carry
            # ~1e-2 absolute noise; still ≪ the 1px quantum that matters
            assert cross >= -0.05
    assert sside >= -1e-9


@settings(max_examples=60, deadline=None)
@given(pts_strategy)
def test_min_area_rect_no_larger_than_bbox(ps):
    pts = np.array(ps, dtype=np.float64)
    box, _ = min_area_rect(pts)
    w = np.hypot(*(box[1] - box[0]))
    h = np.hypot(*(box[3] - box[0]))
    bw = pts[:, 0].max() - pts[:, 0].min()
    bh = pts[:, 1].max() - pts[:, 1].min()
    assert w * h <= bw * bh * (1 + 1e-5) + 1e-6 or (bw * bh == 0)


@settings(max_examples=60, deadline=None)
@given(pts_strategy)
def test_hull_subset_and_convex(ps):
    pts = np.array(ps, dtype=np.float64)
    hull = convex_hull(pts)
    as_set = {tuple(p) for p in pts.tolist()}
    assert all(tuple(h) in as_set for h in hull.tolist())


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=0, max_value=80),
    st.integers(min_value=0, max_value=80),
)
def test_warp_identity_on_any_axis_aligned_rect(w, h, x0, y0):
    rng = np.random.default_rng(w * 1000 + h * 10 + x0 + y0)
    img = (rng.random((160, 160)) * 255).astype(np.uint8)
    quad = np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]], np.float64
    )
    out = warp_quad(img, quad, w, h)
    want = img[y0 : y0 + h, x0 : x0 + w]
    assert np.array_equal(out, want)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=2000))
def test_ntile_closed_form_matches_spec(n):
    """The expression used in ev_user_value_quartiles must equal SQL ntile
    semantics (first n%k tiles get n div k + 1 rows) for every n."""
    k = 4
    q, rem = divmod(n, k)
    want = []
    for t in range(1, k + 1):
        want += [t] * (q + 1 if t <= rem else q)
    got = []
    for r in range(1, n + 1):
        cut = rem * (q + 1)
        if r <= cut:
            got.append((r - 1) // (q + 1) + 1)
        else:
            got.append(rem + (r - cut - 1) // max(q, 1) + 1)
    assert got == want


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=400))
def test_kmv_two_level_equals_direct_k_smallest(hs):
    """The salted two-level min-k reduction (plans/events.py:_kmv_topk)
    must equal the direct k smallest distinct values."""
    k, salt = 32, 64
    distinct = sorted(set(hs))
    want = distinct[:k]
    buckets: dict[int, list[int]] = {}
    for h in set(hs):
        buckets.setdefault(h % salt, []).append(h)
    l1 = [sorted(v)[:k] for v in buckets.values()]
    got = sorted(x for part in l1 for x in part)[:k]
    assert got == want


# ---------------------------------------------------------------------------
# round 3: the batched 25-offset sweep must be indistinguishable from the
# straightforward sequential implementation (first-strictly-smaller update
# wins ties) on arbitrary binary crops; both production matchers' Hamming
# GEMM must reproduce the pre-GEMM distance kernels (popcount LUT over
# packed bits, elementwise != sum) bit for bit


# popcount lookup table for uint8 (np.bitwise_count needs numpy >= 2.0)
POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def packed_glyph_bank() -> np.ndarray:
    """(n_charset, 9) uint8 — each glyph's 70 bits packed for popcount."""
    from rapidocr_spark.kernels.font import glyph_bank

    bank = glyph_bank()
    return np.packbits(bank.reshape(bank.shape[0], -1), axis=1)


def pack_cells(cells: np.ndarray) -> np.ndarray:
    """(n, GLYPH_H, GLYPH_W) bool/uint8 → (n, 9) packed uint8."""
    return np.packbits(cells.reshape(cells.shape[0], -1).astype(np.uint8), axis=1)


def _cell_logit_rows_reference(crop_bin):
    """The pre-GEMM scale-1 grid matcher, kept as a test oracle: Hamming
    distance as an elementwise != sum against the glyph bank."""
    from rapidocr_spark.kernels.font import (
        BLANK_IDX, CELL_W, GLYPH_H, GLYPH_W, SPACE_IDX, glyph_bank,
    )
    from rapidocr_spark.kernels.rec import CONF_MATCH, CONF_MISS

    bank = glyph_bank()
    n_classes = bank.shape[0]
    row_sums = crop_bin.sum(axis=1)
    if row_sums.sum() == 0:
        return None
    ur = int(np.argmax(row_sums))
    if ur < GLYPH_H:
        return None
    xs = np.flatnonzero(crop_bin[ur])
    if xs.size == 0:
        return None
    x0, x1 = int(xs[0]), int(xs[-1])
    n_cells = (x1 - x0 + 2) // CELL_W
    if n_cells <= 0:
        return None
    gy0 = ur - GLYPH_H
    h, w = crop_bin.shape
    cells = np.zeros((n_cells, GLYPH_H, GLYPH_W), dtype=np.uint8)
    for k in range(n_cells):
        cx = x0 + k * CELL_W
        cw = min(GLYPH_W, w - cx)
        if cw > 0:
            cells[k, :, :cw] = crop_bin[gy0:ur, cx : cx + cw]
    diff = (cells[:, None, :, :] != bank[None, :, :, :]).sum(axis=(2, 3))
    diff[:, BLANK_IDX] = GLYPH_H * GLYPH_W + 1
    best = diff.argmin(axis=1)
    exact = diff[np.arange(n_cells), best] == 0
    empty = cells.sum(axis=(1, 2)) == 0
    out = np.zeros((n_cells, n_classes), dtype=np.float32)
    for k in range(n_cells):
        if empty[k]:
            out[k, SPACE_IDX] = CONF_MATCH
        else:
            out[k, int(best[k])] = CONF_MATCH if exact[k] else CONF_MISS
    return out


def _search_sequential_reference(crop_bin):
    """The pre-batching sweep, kept as a test oracle: per (scale, dy, dx)
    one strip → downsample → pack → popcount diff → strictly-less update."""
    from rapidocr_spark.kernels.font import (
        BLANK_IDX, CELL_W, GLYPH_H, GLYPH_W, SPACE_IDX,
    )
    from rapidocr_spark.kernels.rec import (
        CONF_APPROX, CONF_MATCH, CONF_MISS, REC_TOL, _OFF, _SCALES,
    )

    bank_p = packed_glyph_bank()
    n_classes = bank_p.shape[0]
    row_sums = crop_bin.sum(axis=1)
    if row_sums.sum() == 0:
        return None
    ur = int(np.argmax(row_sums))
    xs = np.flatnonzero(crop_bin[ur])
    if xs.size == 0:
        return None
    x0g, x1g = int(xs[0]), int(xs[-1])
    h, w = crop_bin.shape
    offs = range(-_OFF, _OFF + 1)
    big = GLYPH_H * GLYPH_W + 1
    thick = 1
    while ur - thick >= 0 and row_sums[ur - thick] >= 0.5 * row_sums[ur]:
        thick += 1
    k_guess = min(max(thick, 1), max(_SCALES))
    scale_order = [k_guess] + [k for k in _SCALES if k != k_guess]
    best_total, best_rows = None, None
    for k in scale_order:
        if ur < k * GLYPH_H:
            continue
        n_cells = int(round((x1g - x0g + 1 + k) / float(k * CELL_W)))
        if n_cells <= 0:
            continue
        strip_w = n_cells * k * CELL_W
        pad_r = max(0, x0g + _OFF + strip_w - w)
        padded = np.pad(crop_bin, ((0, 0), (0, pad_r))) if pad_r else crop_bin
        best_d = np.full(n_cells, big, dtype=np.int64)
        best_c = np.full(n_cells, SPACE_IDX, dtype=np.int64)
        seen_any = False
        for dy in offs:
            cy = ur - k * GLYPH_H + dy
            if cy < 0 or cy + k * GLYPH_H > h:
                continue
            for dx in offs:
                cx = x0g + dx
                if cx < 0:
                    continue
                seen_any = True
                strip = padded[cy : cy + k * GLYPH_H, cx : cx + strip_w]
                if k > 1:
                    g = (
                        strip.reshape(GLYPH_H, k, n_cells * CELL_W, k)
                        .sum(axis=(1, 3), dtype=np.int32)
                        * 2
                        > k * k
                    )
                else:
                    g = strip
                cells = g.reshape(GLYPH_H, n_cells, CELL_W).transpose(1, 0, 2)[:, :, :GLYPH_W]
                cp = pack_cells(cells)
                diff = POPCOUNT[cp[:, None, :] ^ bank_p[None, :, :]].sum(
                    axis=2, dtype=np.int64
                )
                diff[:, BLANK_IDX] = big
                cmin = diff.argmin(axis=1)
                dmin = diff[np.arange(n_cells), cmin]
                upd = dmin < best_d
                best_d[upd] = dmin[upd]
                best_c[upd] = cmin[upd]
        if not seen_any:
            continue
        rows = np.zeros((n_cells, n_classes), dtype=np.float32)
        exact = best_d == 0
        approx = (~exact) & (best_d <= REC_TOL) & (k > 1)
        conf = np.where(exact, CONF_MATCH, np.where(approx, CONF_APPROX, CONF_MISS))
        rows[np.arange(n_cells), best_c] = conf
        total = int(np.minimum(best_d, 35).sum())
        if best_total is None or total < best_total:
            best_total, best_rows = total, rows
        if best_total <= n_cells:
            break
    return best_rows


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=16, max_value=50),
    st.integers(min_value=24, max_value=160),
    st.floats(min_value=0.05, max_value=0.6),
)
def test_batched_offset_sweep_equals_sequential(seed, h, w, density):
    from rapidocr_spark.kernels.rec import _cell_logit_rows, _cell_logit_rows_search

    rng = np.random.default_rng(seed)
    crop = rng.random((h, w)) < density
    # plant a dense underline-ish row so the grid anchor is realistic
    ur = int(rng.integers(h // 2, h))
    crop[ur, : int(w * 0.9)] = True
    for got, want in (
        (_cell_logit_rows_search(crop), _search_sequential_reference(crop)),
        (_cell_logit_rows(crop), _cell_logit_rows_reference(crop)),
    ):
        if want is None:
            assert got is None
        else:
            assert got is not None
            np.testing.assert_array_equal(got, want)


# ---- round-5 kernels -------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=0, max_value=20),
    st.integers(min_value=0, max_value=9999),
)
def test_padding_equals_manual_pad_minus_translate(pad, seed):
    """K13 property: extraction with det_padding=p ≡ extraction of the
    manually p-padded image with every reported box shifted by −p — the
    knob is EXACTLY pad-then-translate-back (same texts, same scores,
    boxes off by the constant)."""
    from rapidocr_spark.kernels.oracle import extract_bitmap
    from rapidocr_spark.kernels.render import render_lines
    from rapidocr_spark.plans.shell import EXTRACT_CFG

    rng = np.random.default_rng(seed)
    lines = ["Pp" + "x" * int(rng.integers(1, 8)), "Qq" + "y" * int(rng.integers(1, 8))]
    img = render_lines(lines, margin=int(rng.integers(2, 9)))
    via_knob = extract_bitmap(img, EXTRACT_CFG.replace(det_padding=pad))
    padded = np.pad(img, pad, mode="constant") if pad else img
    manual = extract_bitmap(padded, EXTRACT_CFG)
    assert via_knob["extracted_text"] == manual["extracted_text"]
    assert via_knob["n_boxes"] == manual["n_boxes"]
    for sk, sm in zip(via_knob["spans"] or [], manual["spans"] or []):
        assert sk["text"] == sm["text"] and sk["score"] == sm["score"]
        got = np.array(sk["box"])
        want = np.array(sm["box"]) - float(pad)
        assert np.array_equal(got, want)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-50, max_value=250, allow_nan=False),
            st.floats(min_value=-50, max_value=250, allow_nan=False),
        ),
        min_size=4,
        max_size=4,
    ),
    st.text(
        alphabet="ABCdef123 正品",
        min_size=0,
        max_size=12,
    ),
)
def test_vis_never_crashes_and_preserves_untouched_source(quad, text):
    """S10 robustness: arbitrary (even wildly out-of-bounds) quads and
    texts draw without crashing; the canvas stays (H, 2W); outline pixels
    only ever take the OUTLINE value or brighter glyph ink."""
    from rapidocr_spark.kernels.vis import OUTLINE, vis_result

    img = np.zeros((40, 60), dtype=np.uint8)
    img[5:9, 7:30] = 255
    spans = [{"box": [list(p) for p in quad], "text": text}]
    vis = vis_result(img, spans)
    assert vis.shape == (40, 120)
    left = vis[:, :60]
    # every left-half pixel is either source, or the outline value
    changed = left != img
    assert set(np.unique(left[changed])).issubset({OUTLINE})


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=6))
def test_onnx_mini_ints_attr_round_trip(vals):
    """Wire-format property: INTS attributes of any magnitude round-trip
    through the from-scratch writer + reader."""
    from rapidocr_spark.kernels.onnx_mini import _attr_ints, _parse_attr

    name, got = _parse_attr(_attr_ints("kernel_shape", vals))
    assert name == "kernel_shape" and got == vals


def test_onnx_mini_negative_varint_raises():
    import pytest

    from rapidocr_spark.kernels.onnx_mini import _attr_int

    with pytest.raises(ValueError):
        _attr_int("axis", -1)


def _ntile_closed_form(rank: int, n: int, k: int = 4) -> int:
    """Python mirror of the exact-ntile expression (plans/events.py
    ev_user_value_quartiles): the first n%k tiles hold n//k + 1 rows, the
    rest n//k."""
    q, rem = divmod(n, k)
    if rank <= rem * (q + 1):
        return (rank - 1) // (q + 1) + 1
    return rem + (rank - rem * (q + 1) - 1) // max(q, 1) + 1


@settings(max_examples=80, deadline=None)
@given(n=st.integers(1, 500))
def test_ntile_closed_form_matches_sql_ntile(n):
    """VERDICT r05 nit: the closed form must agree with ANSI ntile(4) for
    EVERY n — including the non-divisible n % 4 cases and n < 4 (where
    greatest(n div 4, 1) guards a zero divisor)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT r, ntile(4) OVER (ORDER BY r) FROM range(1, {n + 1}) t(r)"
    ).fetchall()
    assert len(rows) == n
    for rank, tile in rows:
        assert _ntile_closed_form(rank, n) == tile, (rank, n)


def test_with_global_rank_tie_heavy(spark):
    """with_global_rank must produce the exact 1..n permutation of the
    total order even when the leading sort key is almost all ties and the
    range partitioner's boundaries land inside tie runs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rapidocr_spark.functions.ranking import with_global_rank

    n = 500
    pdf = pd.DataFrame(
        {"id": range(n), "v": [7.0] * (n - 20) + list(range(20))}
    )
    df = spark.createDataFrame(pdf)
    for parts in (1, 3, 8):
        out = (
            with_global_rank(df, [F.col("v").desc(), F.col("id")], rank_col="rk",
                             num_partitions=parts)
            .select("id", "v", "rk")
            .toPandas()
        )
        expected = sorted(zip(pdf.v, pdf.id), key=lambda t: (-t[0], t[1]))
        got = out.sort_values("rk")
        assert list(got.rk) == list(range(1, n + 1))
        assert [(v, i) for v, i in zip(got.v, got.id)] == expected


# ---------------------------------------------------------------------------
# late round 6: HLL / PageRank arithmetic invariants


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 25) - 1))
def test_hll_rho_cascade_equals_bit_length(w):
    """The 25-branch CASE cascade both engines run must equal the
    closed-form rho = leading-zero count within 25 bits + 1 =
    26 - bit_length(w) (w > 0), 26 for w = 0."""
    from rapidocr_spark.plans.events import HLL_WBITS

    rho = HLL_WBITS + 1
    for r in range(1, HLL_WBITS + 1):
        if w >= (1 << (HLL_WBITS - r)):
            rho = r
            break
    expected = (HLL_WBITS + 1 - w.bit_length()) if w else (HLL_WBITS + 1)
    assert rho == expected


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=26), min_size=0, max_size=32),
    st.randoms(),
)
def test_hll_z_sum_is_exact_and_order_independent(mjs, rnd):
    """Σ 2^-M_j over ≤ m register values is EXACT in IEEE double (every
    term is a multiple of 2^-26 and the total < 2^6 → every partial sum
    representable), hence order-independent — the claim that lets the
    HLL fold use a float SUM under the no-order-dependent-float rule."""
    from fractions import Fraction

    base = sum(Fraction(1, 1 << mj) for mj in mjs)
    totals = set()
    for _ in range(5):
        mjs2 = list(mjs)
        rnd.shuffle(mjs2)
        acc = 0.0
        for mj in mjs2:
            acc += 2.0 ** -mj
        totals.add(acc)
    assert len(totals) <= 1
    if mjs:
        assert Fraction(totals.pop()) == base


def test_pagerank_mass_conservation_and_teleport_floor():
    """Integer PageRank invariants on the oracle itself (third-engine
    check, no Spark): total final mass stays within the provable
    integer-division loss of the full 10^12, and a zero-in-link page's
    rank is EXACTLY the teleport floor (15·base) div 100 — agg_in = 0
    every iteration by construction."""
    import duckdb

    from rapidocr_spark.functions.graph import (
        PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE,
    )
    from rapidocr_spark.plans.shell import oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    pdf = con.execute(oracle_sql()["graph_pagerank"]).df()
    n = len(pdf)
    base = PR_SCALE // n
    teleport = ((PR_DAMP_DEN - PR_DAMP_NUM) * base) // PR_DAMP_DEN
    zero_in = pdf[pdf.n_inlinks == 0]
    assert len(zero_in) > 0, "graph must have zero-in-link pages (skew)"
    assert (zero_in.pr_scaled == teleport).all()
    total = int(pdf.pr_scaled.sum())
    # each of the 3 iterations loses < 1 per `div` site: N teleport divs,
    # E contrib divs, N damping divs, plus the initial N-split remainder
    n_edges = int(pdf.out_degree.sum())
    max_loss = n + 3 * (2 * n + n_edges)
    assert total <= PR_SCALE
    assert total >= PR_SCALE - max_loss
    # non-trivial fixpoint: ranks must actually spread (regular-graph trap)
    assert pdf.pr_scaled.nunique() > n // 10


def test_doc_id_contiguous_at_every_scale():
    """_doc_graph's documented contract (every synthetic edge dst is an
    existing node, outdeg >= 1 after drops, no dangling-mass term)
    depends on doc_id being contiguous 0..N-1 — the (i² mod N) and
    (... mod N) arithmetic lands edges on real nodes ONLY then.  Pin the
    generator rather than assume it: a corpus with id gaps would keep
    the gate green (the oracle mirrors the arithmetic) over a
    semantically wrong graph."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        n, lo, hi, nd = con.execute(
            "SELECT COUNT(*), MIN(doc_id), MAX(doc_id), COUNT(DISTINCT doc_id)"
            f" FROM read_parquet('/root/testdata/{sf}/documents.parquet')"
        ).fetchone()
        assert (lo, hi, nd) == (0, n - 1, n), f"{sf}: doc_id not contiguous 0..N-1"


def test_with_global_cumsum_partition_invariant(spark):
    """The distributed prefix-sum must equal the sequential running sum
    REGARDLESS of range-partition count (the offsets-merge exactness
    argument), including p > distinct keys and p = 1."""
    from pyspark.sql import functions as F

    from rapidocr_spark.functions.ranking import with_global_cumsum

    rows = [(i, (i * 37) % 13 + 1) for i in range(257)]
    # deterministic shuffle so input order != key order
    rows = sorted(rows, key=lambda r: (r[0] * 101) % 257)
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    seq, acc = {}, 0
    for k, v in sorted(rows):
        acc += v
        seq[k] = acc
    for p in (1, 3, 8, 64):
        got = {
            r.k: r.cum
            for r in with_global_cumsum(
                df, [F.col("k")], "v", "cum", num_partitions=p
            ).collect()
        }
        assert got == seq, f"p={p}"


def test_unicode_fuzzy_dp_oracle_matches_spark(spark, tmp_path):
    """The dedup_fuzzy_unicode DP-in-SQL oracle must equal Spark's
    codepoint levenshtein on a corpus where the keys are GENUINELY
    non-ASCII (CJK, accents, mixed) — the production corpus is mostly
    ASCII, so this pins the codepoint path explicitly."""
    import duckdb
    import pandas as pd

    from rapidocr_spark.plans.shell import oracle_sql, queries

    texts = []
    for i in range(8):
        texts.append(f"正品促销活动第{i}号 特卖专场 全场包邮")
        texts.append(f"正品促销活动第{i}号 特卖专场 全场包邮 extra")
        texts.append(f"héllo wörld number {i} grüße aus münchen")
        texts.append(f"héllo wörld number {i} grüsse aus münchen")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "zh",
            "source": "t",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")
    sp = queries()["dedup_fuzzy_unicode"](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    du = con.execute(oracle_sql()["dedup_fuzzy_unicode"]).df()
    key = lambda df: sorted(map(tuple, df[sorted(df.columns)].values.tolist()))  # noqa: E731
    assert len(sp) > 0, "crafted corpus must produce fuzzy pairs"
    assert key(sp) == key(du)
    # and the matched keys really exercised non-ASCII codepoints
    assert any(ord(c) > 127 for t in texts for c in t)


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=1, max_value=300))
def test_chunk_grid_covers_every_token_once_per_stride(n):
    """doc_chunk_spans' chunk grid invariants, proven on the closed
    forms both engines share: chunks cover every token position, no
    chunk is empty, consecutive chunks overlap by exactly C − S tokens
    (except a shorter tail), and the n_tok closed form min(C, n − i·S)
    equals the slice-truncation semantics."""
    from rapidocr_spark.functions.text import CHUNK_C as C, CHUNK_S as S

    m = (max(n - C, 0) + S - 1) // S  # last chunk index (0-based)
    covered = set()
    for i in range(m + 1):
        start = i * S + 1
        n_tok_closed = min(C, n - i * S)
        sliced = list(range(start, min(start + C - 1, n) + 1))
        assert len(sliced) == n_tok_closed  # closed form == slice truncation
        assert n_tok_closed >= 1  # no empty chunk
        covered.update(sliced)
        if i > 0:
            prev_end = (i - 1) * S + min(C, n - (i - 1) * S)
            overlap = max(0, prev_end - start + 1)
            # exact closed form: chunk i overlaps its predecessor by
            # min(C − S, n − i·S) tokens — C − S for every interior
            # chunk, clipped only by a short tail
            assert overlap == min(C - S, n - i * S), (n, i, overlap)
    assert covered == set(range(1, n + 1))  # total coverage


def _bpe_naive_reference(words, cnts, n_merges):
    """Full-recount BPE trainer: per round rebuild every pair count from
    scratch, argmax by (count DESC, (l, r) ASC), greedy leftmost merge.
    The semantics the incremental learner must equal bit-for-bit."""
    words = [list(w) for w in words]
    rows = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for s, c in zip(words, cnts):
            for p in zip(s, s[1:]):
                counts[p] = counts.get(p, 0) + c
        live = [(p, c) for p, c in counts.items() if c > 0]
        if not live:
            break
        (l, r), best_c = min(live, key=lambda kv: (-kv[1], kv[0]))
        rows.append((rank, l, r, l + r, best_c))
        for idx, s in enumerate(words):
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            words[idx] = out
    return rows


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=10),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 12),
)
def test_bpe_incremental_learner_matches_full_recount(vocab, n_merges):
    """The single-stage incremental learner (pair→word index + exact
    delta updates, incl. stale-entry skips) must equal a naive
    full-recount trainer on overlap-dense vocabularies — including
    the exhaustion case where the vocab runs out of pairs before
    n_merges rounds."""
    import pandas as pd

    import rapidocr_spark.functions.text as text

    words = [w for w, _ in vocab]
    cnts = [c for _, c in vocab]
    old = text.BPE_N_MERGES
    text.BPE_N_MERGES = n_merges
    try:
        got = list(
            next(
                text._bpe_learn_from_vocab(
                    iter([pd.DataFrame({"word": words, "cnt": cnts})])
                )
            ).itertuples(index=False, name=None)
        )
    finally:
        text.BPE_N_MERGES = old
    assert got == _bpe_naive_reference(words, cnts, n_merges)


def test_bpe_learner_reaches_production_merge_count():
    """The one-stage architecture's whole point: a production-scale
    merge count is just a constant.  2048 merges over a 4k-word
    synthetic vocab must finish in seconds (the old one-job-per-merge
    shape would have needed 2048 sequential Spark jobs)."""
    import time

    import pandas as pd

    import rapidocr_spark.functions.text as text

    def lcg_word(i):
        x = (i * 2654435761) % (1 << 32)
        chars = []
        for _ in range(3 + x % 10):
            x = (x * 1103515245 + 12345) % (1 << 31)
            # high bits — the low bits of an LCG cycle with tiny period
            chars.append("abcdefghijklmnop"[(x >> 16) % 16])
        return "".join(chars)

    rng_words = sorted({lcg_word(i) for i in range(4000)})
    cnts = [(i % 97) + 1 for i in range(len(rng_words))]
    old = text.BPE_N_MERGES
    text.BPE_N_MERGES = 2048
    try:
        t0 = time.time()
        out = next(
            text._bpe_learn_from_vocab(
                iter([pd.DataFrame({"word": rng_words, "cnt": cnts})])
            )
        )
        elapsed = time.time() - t0
    finally:
        text.BPE_N_MERGES = old
    # soft bound only: the host shows 2-3x external steal (CLAUDE.md), so a
    # tight wall-clock assert would flake; 300s still catches an accidental
    # return to the one-Spark-job-per-merge architecture (24.8s for 8 merges
    # => thousands of seconds at 2048)
    assert elapsed < 300, elapsed
    assert list(out.merge_rank) == list(range(1, len(out) + 1))
    assert len(out) > 500  # deep vocab: far past the toy 8-merge horizon
    # weighted pair counts can only be positive and ranks' counts are
    # monotone non-increasing only per-pair lineage, but every emitted
    # count must be positive and the merged symbol must concatenate l+r
    assert (out.pair_count > 0).all()
    assert (out.merge_left + out.merge_right == out.merged).all()


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=12), min_size=1, max_size=6
    ),
    st.sampled_from(["aa", "ab", "ba", "bb"]),
)
def test_bpe_oracle_fold_matches_reference(words, pair):
    """The BPE oracle's flat-VARCHAR merge fold (the DuckDB-bug
    workaround) must implement exactly the greedy leftmost-match merge:
    compared against a plain Python reference on adversarial a/b words
    (maximal overlapping-pair density, the hardest case for the
    skip/pending logic)."""
    import duckdb

    l, r = pair[0], pair[1]

    def ref(word):
        syms, out, i = list(word), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    from rapidocr_spark.plans.shell import oracle_sql

    sql = oracle_sql()["doc_bpe_learn_merges"]
    # extract the committed fold fragment and bind it to a literal pair
    start = sql.index("string_split(ltrim(")
    depth, i = 0, start
    while True:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    fold = sql[start : i + 1].replace("b.l", f"'{l}'").replace("b.r", f"'{r}'")
    con = duckdb.connect()
    vals = ", ".join(f"('{w}')" for w in words)
    got = con.execute(
        f"SELECT word, {fold} AS syms FROM "
        f"(SELECT word, string_split(word, '') AS syms "
        f" FROM (VALUES {vals}) t(word)) s"
    ).fetchall()
    for w, syms in got:
        assert list(syms) == ref(w), (w, pair, list(syms), ref(w))


def test_nb_quality_classifier_actually_learns():
    """The learned quality filter must beat the vacuous baselines on its
    own confusion matrix (third-engine check over the oracle): balanced
    accuracy ≥ 0.65 (a majority-class predictor scores exactly 0.5) and
    ALL FOUR cells live — the vacuous-gate discipline (the pagerank and
    mean-posterior>1/2 traps: exactly-mirrored arithmetic keeps a gate
    green over a classifier that never actually discriminates)."""
    import duckdb

    from rapidocr_spark.plans.shell import oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    cells = {
        (bool(l), bool(p)): int(n)
        for l, p, n, _ in con.execute(
            oracle_sql()["doc_nb_quality_confusion"]
        ).fetchall()
    }
    assert len(cells) == 4, cells
    tpr = cells[True, True] / (cells[True, True] + cells[True, False])
    tnr = cells[False, False] / (cells[False, False] + cells[False, True])
    assert (tpr + tnr) / 2 >= 0.65, (cells, tpr, tnr)


def test_sample_mixture_prefix_is_maximal_and_flattens():
    """doc_sample_mixture's contract, checked on the oracle: per domain
    the kept set is the MAXIMAL hash-ordered prefix within quota
    (realized ≤ quota AND the first excluded doc would overflow it),
    and the √-temperature actually bites — the dominant domain's kept
    token share is strictly below its input share (the reweighting is
    observable, not vacuous)."""
    import duckdb

    from rapidocr_spark.plans.shell import oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    df = con.execute(oracle_sql()["doc_sample_mixture"]).df()
    for dom, g in df.groupby("domain"):
        g = g.sort_values("cum_dom_tok")
        quota = int(g.quota_tok.iloc[0])
        kept = g[g.keep]
        realized = int(kept.n_tok.sum())
        assert realized == int(kept.cum_dom_tok.max() if len(kept) else 0)
        assert realized <= quota, dom
        dropped = g[~g.keep]
        if len(dropped):
            assert realized + int(dropped.n_tok.iloc[0]) > quota, dom
    inp = df.groupby("domain").n_tok.sum()
    out = df[df.keep].groupby("domain").n_tok.sum()
    dominant = inp.idxmax()
    assert out[dominant] / out.sum() < inp[dominant] / inp.sum()


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=10),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 10),
)
def test_bpe_apply_equals_trainer_final_segmentation(vocab, n_merges):
    """doc_bpe_apply's from-scratch segmenter (apply learned merges in
    rank order) must reproduce the trainer's FINAL internal segmentation
    — i.e. re-running the naive full-recount trainer and reading its
    final word states gives the same per-word token counts as
    _bpe_segmenter over the learned merge list."""
    import pandas as pd

    import rapidocr_spark.functions.text as text

    words = [w for w, _ in vocab]
    cnts = [c for _, c in vocab]
    # trainer's final segmentation via the naive reference
    ref_words = [list(w) for w in words]
    rows = _bpe_naive_reference(words, cnts, n_merges)
    for _, l, r, merged, _ in rows:
        ref_words = [text._merge_word_once(s, l, r, merged) for s in ref_words]
    want = {w: len(s) for w, s in zip(words, ref_words)}

    merges = [(l, r) for _, l, r, _, _ in rows]
    seg = text._bpe_segmenter(merges)
    got_df = next(seg(iter([pd.DataFrame({"word": list(dict.fromkeys(words))})])))
    got = dict(zip(got_df["word"], (int(n) for n in got_df["n_bpe"])))
    for w in set(words):
        assert got[w] == want[w], (w, got[w], want[w], merges)


def test_merge_word_once_greedy_overlap():
    """Leftmost-greedy with skip on maximal overlap: 'aaaa' under (a,a)
    is [aa, aa]; 'aaa' is [aa, a]; non-adjacent occurrences all merge."""
    from rapidocr_spark.functions.text import _merge_word_once

    assert _merge_word_once(list("aaaa"), "a", "a", "aa") == ["aa", "aa"]
    assert _merge_word_once(list("aaa"), "a", "a", "aa") == ["aa", "a"]
    assert _merge_word_once(list("abab"), "a", "b", "ab") == ["ab", "ab"]
    assert _merge_word_once(["ab", "c", "ab"], "ab", "c", "abc") == ["abc", "ab"]


def test_sample_quality_prefers_high_rate_docs():
    """doc_sample_quality's contract, checked on the oracle: within each
    domain the kept set is the maximal (rate DESC, doc_id)-ordered
    prefix within quota — every kept doc lexicographically precedes
    every dropped doc under that order — and the quota arithmetic is
    identical to doc_sample_mixture's (same quotas per domain)."""
    import duckdb

    from rapidocr_spark.plans.shell import oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    sql = oracle_sql()
    df = con.execute(sql["doc_sample_quality"]).df()
    mix = con.execute(sql["doc_sample_mixture"]).df()
    q_q = df.groupby("domain").quota_tok.first().sort_index()
    q_m = mix.groupby("domain").quota_tok.first().sort_index()
    assert (q_q == q_m).all(), (q_q, q_m)
    for dom, g in df.groupby("domain"):
        kept = g[g.keep]
        dropped = g[~g.keep]
        realized = int(kept.n_tok.sum())
        assert realized <= int(g.quota_tok.iloc[0]), dom
        if len(kept) and len(dropped):
            # every kept doc precedes every dropped doc in (rate DESC, id)
            best_dropped = min(
                (-int(r.rate_scaled), int(r.doc_id)) for r in dropped.itertuples()
            )
            worst_kept = max(
                (-int(r.rate_scaled), int(r.doc_id)) for r in kept.itertuples()
            )
            assert worst_kept < best_dropped, (dom, worst_kept, best_dropped)


def test_bpe_oracle_survives_vocab_exhaustion():
    """The BPE oracles on a corpus that learns only ONE merge ('ab ab'
    twice): the learn oracle must emit exactly that merge (no sentinel
    rows), and the apply oracle's v-chain must survive the 63 exhausted
    rounds — per-doc counts reflect the one learned merge instead of
    collapsing to zeros (the round-7 review finding)."""
    import duckdb

    from rapidocr_spark.plans.shell import oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'ab ab'), (1, 'ab')) AS t(doc_id, text)"
    )
    sql = oracle_sql()
    learn = con.execute(sql["doc_bpe_learn_merges"]).df()
    assert list(learn.merge_left) == ["a"] and list(learn.merge_right) == ["b"]
    assert list(learn.pair_count) == [3]
    apply_ = con.execute(sql["doc_bpe_apply"]).df().set_index("doc_id")
    assert int(apply_.loc[0].n_words) == 2
    assert int(apply_.loc[0].n_syms) == 4
    assert int(apply_.loc[0].n_bpe_tokens) == 2  # 'ab' -> one token each
    assert int(apply_.loc[1].n_bpe_tokens) == 1
