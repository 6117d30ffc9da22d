"""H.264 notch 13 — P-slice inter prediction (the fixture side).

The decoder's inter kernels live in operators/h264.py
(``_mc_luma_block`` / ``_mc_chroma_block`` / ``_mvp_16x16`` /
``_skip_mv_16x16`` + the P-slice parse branches); this module holds
everything the ORACLE side needs and the decoder must never see:

- closed-form syntax generators (MB kinds, motion vectors, CBPs,
  residual levels) shared by the encoder, the twin, and the SQL;
- EXPLICIT-LOOP reconstruction twins written directly from the spec
  equations (8.4.2.2.1 quarter-pel luma taps, 8.4.2.2.2 bilinear
  chroma, 8.4.1.3 median MVP, 8.4.1.1 P_Skip, 8.3.3/8.3.4 intra
  prediction) — independent of the decoder's vectorized numpy path;
- the Annex-B encoder emitting a real I->P->P reference chain
  (IDR PCM base picture, then two P pictures whose P_L0_16x16 /
  P_Skip / intra-in-P macroblocks are chosen by the closed forms);
- the gate query + DuckDB oracle: picture 0's PCM sums in pure SQL
  from the sample formulas, pictures 1-2 re-aggregated in SQL from
  the embedded twin-reconstructed samples.

The corpus sweeps every quarter-pel phase pair on both axes, both
spec-8.5.12.1 dequant branches (QP 22..31), out-of-picture motion
(edge clamping), all Table 9-4 inter CBP classes, skip runs in
leading / interior / trailing position, and intra macroblocks
predicting from inter-reconstructed neighbors.

There is no counterpart in the reference repo (it contains no video
or bitstream code); the spec sections cited are the public ITU-T
H.264 text.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from magmapandas_spark.operators.h264 import (
    _BLK4_POS,
    _CBP_INTER_INV,
    _CK_MOD,
    _escape_ebsp,
    _qpc_of,
    _write_chroma_dc_block,
    _write_residual_4x4,
    _BitWriter,
    _x_chroma_dcraw,
    _x_clip1,
    _x_dequant4,
    _x_itrans4,
    _x_luma_dcmat,
    h264_gop_stats,
)

__all__ = [
    "encode_p_annexb",
    "encode_pparts_annexb",
    "encode_p8x8_annexb",
    "encode_multiref_annexb",
    "encode_weighted_annexb",
    "encode_reorder_annexb",
    "synthetic_h264_p_media",
    "synthetic_h264_pparts_media",
    "synthetic_h264_p8x8_media",
    "synthetic_h264_multiref_media",
    "synthetic_h264_weighted_media",
    "synthetic_h264_reorder_media",
    "q_h264_p_decode",
    "q_h264_pparts_decode",
    "q_h264_p8x8_decode",
    "q_h264_multiref_decode",
    "q_h264_weighted_decode",
    "q_h264_reorder_decode",
]

_N13_CLIPS = 12


def _n13_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 2


def _n13_qp(i: int) -> int:
    """QP 22..31 — both spec-8.5.12.1 scaling branches."""
    return 22 + (i % 10)


# -- closed-form syntax generators (shared by encoder, twin, oracle) --


def _n13_y0(i: int, r: int, c: int) -> int:
    """Picture-0 (IDR PCM) luma sample: per-pixel variation so the
    6-tap interpolators see real gradients, expressible in SQL."""
    return (7 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n13_cb0(i: int, r: int, c: int) -> int:
    return (11 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n13_cr0(i: int, r: int, c: int) -> int:
    return (19 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


def _n13_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    """Macroblock kind in P picture ``f``: 0 = P_Skip, 1 = P_L0_16x16
    without residual, 2 = P_L0_16x16 with residuals, 3 = intra-in-P
    (I_16x16). Intra only where left+top neighbors exist; elsewhere
    the slot degrades to kind 2 so every picture mixes all shapes."""
    k = (i + 2 * f + 3 * mb) % 4
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 3 and (mbx == 0 or mby == 0):
        return 2
    return k


def _n13_mv(i: int, f: int, mb: int) -> tuple[int, int]:
    """Quarter-pel motion vector for a coded inter MB: the fractional
    phase pair is driven directly (all 16 combinations occur, pinned
    by tests), the integer part sweeps -3..3 px; every fifth
    (i, f, mb) scales the integer part 8x (up to +-24 px) so the
    interpolation window leaves the picture (Clip3 edge clamping)."""
    qx = (i + mb + 2 * f) % 4
    qy = (2 * i + 3 * mb + f) % 4
    ix = ((i + 5 * mb + 7 * f) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n13_cbp(i: int, f: int, mb: int) -> tuple[int, int]:
    """(cbp_luma, cbp_chroma) for a kind-2 inter MB — sweeps all 16
    luma patterns and all three chroma classes; ``i >> 1`` breaks the
    mod-4 alias with the kind selector (pinned by tests)."""
    return (5 * (i >> 1) + 3 * mb + 7 * f) % 16, (i + mb + 2 * f) % 3


def _n13_lv16(i: int, f: int, mb: int, blk: int) -> list[int]:
    """16-coefficient LumaLevel4x4 vector for coded inter blocks:
    1..4 nonzeros, magnitudes 1..12."""
    n = 1 + (i + f + mb + 2 * blk) % 4
    out = [0] * 16
    for j in range(n):
        pos = (3 * j + (i + f + blk) % 3) % 16
        out[pos] = (1 + (i + 3 * mb + blk + 5 * j + f) % 12) * (
            1 if (mb + blk + j + f) % 2 == 0 else -1
        )
    return out


def _n13_cdc(i: int, f: int, mb: int, p: int) -> list[int]:
    """2x2 ChromaDCLevel vector (plane ``p``): values in -2..2."""
    return [
        ((i + 2 * mb + 3 * k + 5 * p + f) % 5) - 2 for k in range(4)
    ]


def _n13_ac15(i: int, f: int, mb: int, blk: int, tag: int) -> list[int]:
    """15-coefficient ChromaACLevel vector: 0..4 nonzeros."""
    n = (i + 2 * mb + 3 * blk + tag + f) % 5
    out = [0] * 15
    for j in range(n):
        pos = (2 * j + (i + blk + tag) % 2) % 15
        out[pos] = (1 + (i + mb + 2 * blk + 5 * j + tag + f) % 9) * (
            1 if (i + blk + j + tag) % 2 == 0 else -1
        )
    return out


def _n13_intra(i: int, f: int, mb: int) -> tuple[int, int, int]:
    """(luma 16x16 pred mode, chroma pred mode, cbp_chroma) for an
    intra-in-P macroblock (placed only where left+top exist, so all
    four modes are legal)."""
    return (
        (i + mb + f) % 4,
        ((i >> 1) + mb + f) % 4,
        (i + mb) % 3,
    )


def _n13_dc(i: int, f: int, mb: int) -> list[int]:
    """Intra16x16DCLevel zig-zag vector: 3..10 nonzeros."""
    n = 3 + (i + f + mb) % 8
    return [
        (1 + (i + 3 * mb + 5 * k + f) % 7)
        * (1 if (i + mb + k) % 2 == 0 else -1)
        if k < n
        else 0
        for k in range(16)
    ]


# -- explicit-loop twins (independent of the decoder's numpy path) --


def _x_new_mvstate(mbs_w: int, mbs_h: int, avail) -> dict:
    """Twin motion state: per-4x4-block mv/ref grids (plain lists,
    ref -2 = undecoded, -1 = intra, 0 = inter) plus the MB
    availability predicate (decode order and slice gating)."""
    return {
        "mv4x": [[0] * (4 * mbs_w) for _ in range(4 * mbs_h)],
        "mv4y": [[0] * (4 * mbs_w) for _ in range(4 * mbs_h)],
        "ref4": [[-2] * (4 * mbs_w) for _ in range(4 * mbs_h)],
        "mbs_w": mbs_w,
        "avail": avail,
    }


def _x_fill4(st, bx, by, w4, h4, mvx, mvy, rf) -> None:
    for r in range(by, by + h4):
        for c in range(bx, bx + w4):
            st["mv4x"][r][c] = mvx
            st["mv4y"][r][c] = mvy
            st["ref4"][r][c] = rf


def _x_nbr4(bx, by, st):
    """Explicit twin of the partition-neighbor lookup at 4x4
    granularity (spec 6.4.11.7): (mvx, mvy, refIdx, mb_available)."""
    ref4 = st["ref4"]
    if bx < 0 or by < 0 or by >= len(ref4) or bx >= len(ref4[0]):
        return 0, 0, -1, False
    rf = ref4[by][bx]
    if rf == -2:
        return 0, 0, -1, False
    if not st["avail"]((by // 4) * st["mbs_w"] + (bx // 4)):
        return 0, 0, -1, False
    if rf < 0:
        return 0, 0, -1, True
    return st["mv4x"][by][bx], st["mv4y"][by][bx], rf, True


def _x_mvp_part(bx, by, w4, h4, shape, idx, st, cur_ref=0):
    """Explicit twin of spec 8.4.1.3 / 8.4.1.3.1: directional
    16x8/8x16 shortcuts and the exactly-one rule against the
    partition's own refIdx, C -> D substitution, both median special
    cases."""
    a = _x_nbr4(bx - 1, by, st)
    b = _x_nbr4(bx, by - 1, st)
    c = _x_nbr4(bx + w4, by - 1, st)
    if not c[3]:
        c = _x_nbr4(bx - 1, by - 1, st)
    if shape == "16x8":
        if idx == 0 and b[2] == cur_ref:
            return b[0], b[1]
        if idx == 1 and a[2] == cur_ref:
            return a[0], a[1]
    elif shape == "8x16":
        if idx == 0 and a[2] == cur_ref:
            return a[0], a[1]
        if idx == 1 and c[2] == cur_ref:
            return c[0], c[1]
    if not b[3] and not c[3] and a[3]:
        return a[0], a[1]
    hits = [n for n in (a, b, c) if n[2] == cur_ref]
    if len(hits) == 1:
        return hits[0][0], hits[0][1]
    xs = sorted([a[0], b[0], c[0]])
    ys = sorted([a[1], b[1], c[1]])
    return xs[1], ys[1]


def _x_skip_part(bx, by, st):
    """Explicit twin of the spec-8.4.1.1 P_Skip motion derivation."""
    a = _x_nbr4(bx - 1, by, st)
    b = _x_nbr4(bx, by - 1, st)
    if not a[3] or not b[3]:
        return 0, 0
    for n in (a, b):
        if n[2] == 0 and n[0] == 0 and n[1] == 0:
            return 0, 0
    return _x_mvp_part(bx, by, 4, 4, "16x16", 0, st)


def _x_mc_luma(
    ref, x0: int, y0: int, bw: int, bh: int, mvx: int, mvy: int
) -> list:
    """Explicit-loop twin of the spec-8.4.2.2.1 quarter-pel luma
    interpolation for one bw x bh partition: per-sample 6-tap sums
    with per-tap Clip3 coordinate access, ``j`` filtered from
    un-rounded horizontal intermediates, Table 8-12 quarter
    averages."""
    h_, w_ = ref.shape

    def p(xx: int, yy: int) -> int:
        xx = 0 if xx < 0 else (w_ - 1 if xx >= w_ else xx)
        yy = 0 if yy < 0 else (h_ - 1 if yy >= h_ else yy)
        return int(ref[yy, xx])

    b1c: dict = {}

    def b1(xx: int, yy: int) -> int:  # un-rounded horizontal 6-tap
        key = (xx, yy)
        if key not in b1c:
            b1c[key] = (
                p(xx - 2, yy) - 5 * p(xx - 1, yy) + 20 * p(xx, yy)
                + 20 * p(xx + 1, yy) - 5 * p(xx + 2, yy)
                + p(xx + 3, yy)
            )
        return b1c[key]

    def bb(xx: int, yy: int) -> int:
        return _x_clip1((b1(xx, yy) + 16) >> 5)

    def hh(xx: int, yy: int) -> int:
        h1 = (
            p(xx, yy - 2) - 5 * p(xx, yy - 1) + 20 * p(xx, yy)
            + 20 * p(xx, yy + 1) - 5 * p(xx, yy + 2) + p(xx, yy + 3)
        )
        return _x_clip1((h1 + 16) >> 5)

    def jj(xx: int, yy: int) -> int:
        j1 = (
            b1(xx, yy - 2) - 5 * b1(xx, yy - 1) + 20 * b1(xx, yy)
            + 20 * b1(xx, yy + 1) - 5 * b1(xx, yy + 2)
            + b1(xx, yy + 3)
        )
        return _x_clip1((j1 + 512) >> 10)

    xi0, yi0 = x0 + (mvx >> 2), y0 + (mvy >> 2)
    xf, yf = mvx & 3, mvy & 3
    out = [[0] * bw for _ in range(bh)]
    for dy in range(bh):
        for dx in range(bw):
            xx, yy = xi0 + dx, yi0 + dy
            if (xf, yf) == (0, 0):
                v = p(xx, yy)
            elif (xf, yf) == (2, 0):
                v = bb(xx, yy)
            elif (xf, yf) == (0, 2):
                v = hh(xx, yy)
            elif (xf, yf) == (2, 2):
                v = jj(xx, yy)
            elif (xf, yf) == (1, 0):
                v = (p(xx, yy) + bb(xx, yy) + 1) >> 1
            elif (xf, yf) == (3, 0):
                v = (bb(xx, yy) + p(xx + 1, yy) + 1) >> 1
            elif (xf, yf) == (0, 1):
                v = (p(xx, yy) + hh(xx, yy) + 1) >> 1
            elif (xf, yf) == (0, 3):
                v = (hh(xx, yy) + p(xx, yy + 1) + 1) >> 1
            elif (xf, yf) == (1, 1):
                v = (bb(xx, yy) + hh(xx, yy) + 1) >> 1
            elif (xf, yf) == (3, 1):
                v = (bb(xx, yy) + hh(xx + 1, yy) + 1) >> 1
            elif (xf, yf) == (1, 3):
                v = (hh(xx, yy) + bb(xx, yy + 1) + 1) >> 1
            elif (xf, yf) == (3, 3):
                v = (hh(xx + 1, yy) + bb(xx, yy + 1) + 1) >> 1
            elif (xf, yf) == (2, 1):
                v = (bb(xx, yy) + jj(xx, yy) + 1) >> 1
            elif (xf, yf) == (2, 3):
                v = (jj(xx, yy) + bb(xx, yy + 1) + 1) >> 1
            elif (xf, yf) == (1, 2):
                v = (hh(xx, yy) + jj(xx, yy) + 1) >> 1
            else:  # (3, 2)
                v = (jj(xx, yy) + hh(xx + 1, yy) + 1) >> 1
            out[dy][dx] = v
    return out


def _x_mc_chroma(
    ref, x0: int, y0: int, bw: int, bh: int, mvx: int, mvy: int
) -> list:
    """Explicit twin of the spec-8.4.2.2.2 eighth-sample bilinear
    chroma interpolation for one bw x bh block."""
    h_, w_ = ref.shape

    def p(xx: int, yy: int) -> int:
        xx = 0 if xx < 0 else (w_ - 1 if xx >= w_ else xx)
        yy = 0 if yy < 0 else (h_ - 1 if yy >= h_ else yy)
        return int(ref[yy, xx])

    xi0, yi0 = x0 + (mvx >> 3), y0 + (mvy >> 3)
    xf, yf = mvx & 7, mvy & 7
    out = [[0] * bw for _ in range(bh)]
    for dy in range(bh):
        for dx in range(bw):
            xx, yy = xi0 + dx, yi0 + dy
            out[dy][dx] = (
                (8 - xf) * (8 - yf) * p(xx, yy)
                + xf * (8 - yf) * p(xx + 1, yy)
                + (8 - xf) * yf * p(xx, yy + 1)
                + xf * yf * p(xx + 1, yy + 1)
                + 32
            ) >> 6
    return out


def _x_pred16(y, mbx: int, mby: int, mode: int, at: bool, al: bool):
    """Explicit twin of Intra_16x16 prediction (spec 8.3.3)."""
    y0, x0 = 16 * mby, 16 * mbx
    top = [int(y[y0 - 1, x0 + k]) for k in range(16)] if at else None
    lft = [int(y[y0 + k, x0 - 1]) for k in range(16)] if al else None
    out = [[0] * 16 for _ in range(16)]
    if mode == 0:  # Vertical
        for r in range(16):
            for c in range(16):
                out[r][c] = top[c]
    elif mode == 1:  # Horizontal
        for r in range(16):
            for c in range(16):
                out[r][c] = lft[r]
    elif mode == 2:  # DC
        if at and al:
            dc = (sum(top) + sum(lft) + 16) >> 5
        elif at:
            dc = (sum(top) + 8) >> 4
        elif al:
            dc = (sum(lft) + 8) >> 4
        else:
            dc = 128
        for r in range(16):
            for c in range(16):
                out[r][c] = dc
    else:  # Plane (spec 8.3.3.4)
        cor = int(y[y0 - 1, x0 - 1])

        def pt(x: int) -> int:  # p[x, -1]
            return cor if x < 0 else top[x]

        def pl(yy: int) -> int:  # p[-1, y]
            return cor if yy < 0 else lft[yy]

        hg = sum((k + 1) * (pt(8 + k) - pt(6 - k)) for k in range(8))
        vg = sum((k + 1) * (pl(8 + k) - pl(6 - k)) for k in range(8))
        a = 16 * (pl(15) + pt(15))
        b = (5 * hg + 32) >> 6
        c = (5 * vg + 32) >> 6
        for r in range(16):
            for cc in range(16):
                out[r][cc] = _x_clip1(
                    (a + b * (cc - 7) + c * (r - 7) + 16) >> 5
                )
    return out


def _x_predc8(pl, mbx: int, mby: int, mode: int, at: bool, al: bool):
    """Explicit twin of chroma 8x8 prediction (spec 8.3.4): DC with
    the per-4x4 corner rules, H, V, Plane."""
    y0, x0 = 8 * mby, 8 * mbx
    top = [int(pl[y0 - 1, x0 + k]) for k in range(8)] if at else None
    lft = [int(pl[y0 + k, x0 - 1]) for k in range(8)] if al else None
    out = [[0] * 8 for _ in range(8)]
    if mode == 1:  # Horizontal
        for r in range(8):
            for c in range(8):
                out[r][c] = lft[r]
    elif mode == 2:  # Vertical
        for r in range(8):
            for c in range(8):
                out[r][c] = top[c]
    elif mode == 3:  # Plane
        cor = int(pl[y0 - 1, x0 - 1])

        def pt(x: int) -> int:
            return cor if x < 0 else top[x]

        def plft(yy: int) -> int:
            return cor if yy < 0 else lft[yy]

        hg = sum((k + 1) * (pt(4 + k) - pt(2 - k)) for k in range(4))
        vg = sum((k + 1) * (plft(4 + k) - plft(2 - k)) for k in range(4))
        a = 16 * (plft(7) + pt(7))
        b = (34 * hg + 32) >> 6
        c = (34 * vg + 32) >> 6
        for r in range(8):
            for cc in range(8):
                out[r][cc] = _x_clip1(
                    (a + b * (cc - 3) + c * (r - 3) + 16) >> 5
                )
    else:  # DC, per 4x4 sub-block (spec 8.3.4.1)
        for qy in (0, 4):
            for qx in (0, 4):
                ts = sum(top[qx : qx + 4]) if at else None
                ls = sum(lft[qy : qy + 4]) if al else None
                if qx == qy:  # corner blocks average both edges
                    if at and al:
                        dc = (ts + ls + 4) >> 3
                    elif at:
                        dc = (ts + 2) >> 2
                    elif al:
                        dc = (ls + 2) >> 2
                    else:
                        dc = 128
                elif qx == 4:  # (4,0): top preferred, else left[0:4]
                    if at:
                        dc = (ts + 2) >> 2
                    elif al:
                        dc = (sum(lft[0:4]) + 2) >> 2
                    else:
                        dc = 128
                else:  # (0,4): left preferred, else top[0:4]
                    if al:
                        dc = (ls + 2) >> 2
                    elif at:
                        dc = (sum(top[0:4]) + 2) >> 2
                    else:
                        dc = 128
                for r in range(4):
                    for c in range(4):
                        out[qy + r][qx + c] = dc
    return out


def _n13_clip(i: int):
    """Expected reconstruction of clip ``i`` via the explicit twins:
    three pictures (IDR PCM base, then two P pictures, the second
    referencing the twin-reconstructed first). Returns
    [(Y, Cb, Cr)] x 3 as uint8 arrays."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n13_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    y0p = np.array(
        [[_n13_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n13_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n13_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2):
        ry, rcb, rcr = pics[-1]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(i, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(i, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n13_kind(i, f, mb, mbs_w)
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(i, f, mb)
                at = mby > 0 and done[mb - mbs_w]
                al = mbx > 0 and done[mb - 1]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(i, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            else:
                if kind == 0:
                    mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                else:
                    mvx, mvy = _n13_mv(i, f, mb)
                pred = _x_mc_luma(
                    ry, 16 * mbx, 16 * mby, 16, 16, mvx, mvy
                )
                for r in range(16):
                    for c in range(16):
                        yp[16 * mby + r, 16 * mbx + c] = pred[r][c]
                pcb = _x_mc_chroma(
                    rcb, 8 * mbx, 8 * mby, 8, 8, mvx, mvy
                )
                pcr = _x_mc_chroma(
                    rcr, 8 * mbx, 8 * mby, 8, 8, mvx, mvy
                )
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                if kind == 2:
                    cbp_luma, cbp_chroma = _n13_cbp(i, f, mb)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        if cbp_luma & (1 << (blk // 4)):
                            add_luma_block(
                                4 * mby + bi,
                                4 * mbx + bj,
                                _n13_lv16(i, f, mb, blk),
                            )
                    add_chroma(mb, mbx, mby, cbp_chroma)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


# -- the Annex-B encoder (syntax driven by the same closed forms) --


def _p_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-13 NAL units for clip ``i`` — (sps_nal, pps_nal,
    per-picture slice-NAL lists), each NAL as header byte + EBSP
    payload WITHOUT start codes, so the Annex-B and AVC-in-MP4 paths
    consume one encoder (the ``_ladder_nals`` pattern): SPS (one
    reference frame), PPS, an IDR all-PCM base picture, then two P
    pictures (frame_num 1, 2) whose macroblocks are P_Skip runs,
    P_L0_16x16 with median-predicted mvd and optional Table 9-4 inter
    CBP residuals, or intra-in-P I_16x16 (mb_type offset 5)."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n13_geom(i)
    n_mbs = mbs_w * mbs_h
    w, h = 16 * mbs_w, 16 * mbs_h

    sps = _BitWriter()
    sps.u(66, 8)
    sps.u(0, 8)
    sps.u(10, 8)
    sps.ue(0)  # seq_parameter_set_id
    sps.ue(0)  # log2_max_frame_num_minus4
    sps.ue(0)  # pic_order_cnt_type 0
    sps.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    sps.ue(1)  # max_num_ref_frames = 1
    sps.u(0, 1)
    sps.ue(mbs_w - 1)
    sps.ue(mbs_h - 1)
    sps.u(1, 1)
    sps.u(0, 1)
    sps.u(0, 1)
    sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    # picture 0: IDR, all I_PCM from the closed-form planes
    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n13_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n13_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n13_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2):
        sl = _BitWriter()
        sl.ue(0)  # first_mb_in_slice
        sl.ue(5)  # slice_type: P (all slices of the picture are P)
        sl.ue(0)  # pic_parameter_set_id
        sl.u(f, 4)  # frame_num
        sl.u((2 * f) % 16, 4)  # pic_order_cnt_lsb
        sl.u(0, 1)  # num_ref_idx_active_override_flag
        sl.u(0, 1)  # ref_pic_list_modification_flag_l0
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
        sl.se(0)  # slice_qp_delta
        sl.ue(1)  # disable_deblocking_filter_idc

        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def ncof(arr, rr: int, cc_: int) -> int:
            def g(r_, c_):
                if (
                    r_ < 0 or c_ < 0
                    or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                ):
                    return -1
                return int(arr[r_, c_])

            na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
            if na >= 0 and nb >= 0:
                return (na + nb + 1) >> 1
            if na >= 0:
                return na
            if nb >= 0:
                return nb
            return 0

        def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
            if cc_ == 0:
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                return
            _write_chroma_dc_block(sl, _n13_cdc(i, f, mb, 0))
            _write_chroma_dc_block(sl, _n13_cdc(i, f, mb, 1))
            for p_ in range(2):
                for bk in range(4):
                    rr = 2 * mby + bk // 2
                    cx = 2 * mbx + bk % 2
                    if cc_ == 2:
                        n_c = ncof(ctc4[p_], rr, cx)
                        ctc4[p_, rr, cx] = _write_residual_4x4(
                            sl,
                            _n13_ac15(i, f, mb, bk, 1 + p_),
                            n_c,
                            15,
                        )
                    else:
                        ctc4[p_, rr, cx] = 0

        skip_run = 0
        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n13_kind(i, f, mb, mbs_w)
            if kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                done[mb] = True
                skip_run += 1
                continue
            sl.ue(skip_run)  # mb_skip_run before every coded MB
            skip_run = 0
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(i, f, mb)
                # Table 7-13: intra types offset by 5; Table 7-11:
                # 1 + pred mode + 4*cbp_chroma (cbp_luma 0)
                sl.ue(5 + 1 + pm16 + 4 * cc_)
                sl.ue(cm)
                sl.se(0)  # mb_qp_delta
                n_c = ncof(tc4, 4 * mby, 4 * mbx)
                _write_residual_4x4(sl, _n13_dc(i, f, mb), n_c, 16)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                wchroma(mb, mbx, mby, cc_)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
            else:
                mvx, mvy = _n13_mv(i, f, mb)
                pmx, pmy = _x_mvp_part(
                    4 * mbx, 4 * mby, 4, 4, "16x16", 0, st
                )
                sl.ue(0)  # mb_type P_L0_16x16
                sl.se(mvx - pmx)
                sl.se(mvy - pmy)
                cbp_luma, cbp_chroma = (
                    _n13_cbp(i, f, mb) if kind == 2 else (0, 0)
                )
                sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
                if cbp_luma or cbp_chroma:
                    sl.se(0)  # mb_qp_delta
                for blk in range(16):
                    bi, bj = _BLK4_POS[blk]
                    r4, c4 = 4 * mby + bi, 4 * mbx + bj
                    if cbp_luma & (1 << (blk // 4)):
                        n_c = ncof(tc4, r4, c4)
                        tc4[r4, c4] = _write_residual_4x4(
                            sl, _n13_lv16(i, f, mb, blk), n_c, 16
                        )
                    else:
                        tc4[r4, c4] = 0
                wchroma(mb, mbx, mby, cbp_chroma)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            done[mb] = True
        if skip_run:
            sl.ue(skip_run)  # trailing skip run ends the slice
        sl.rbsp_trailing()
        pictures.append([nal(2, 1, sl)])
    return sps_nal, pps_nal, pictures


def encode_p_annexb(i: int) -> bytes:
    """The notch-13 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_p_media(
    spark: SparkSession, n: int = _N13_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_p_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_p_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 13): decode 12 Annex-B streams carrying a
    real I->P->P reference chain — quarter-sample luma motion
    compensation (spec 8.4.2.2.1, all 16 fractional phase pairs,
    Clip3 edge clamping on unrestricted vectors), eighth-sample
    bilinear chroma, median MV prediction with the C->D substitution
    and both special cases (8.4.1.3), P_Skip runs in leading /
    interior / trailing position (8.4.1.1), Table 9-4 INTER
    coded_block_pattern with 4x4 residuals over motion-compensated
    prediction, and intra-in-P macroblocks predicting from
    inter-reconstructed neighbors — one exact statistics row per
    frame under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_p_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_p_corpus(
    n_clips: int,
    geom_fn,
    clip_fn,
    mbs_h_sql: str,
    y0_sql: str,
    cb0_sql: str,
    cr0_sql: str,
    p_nsl: str,
    slice_col: str,
    p_frames: tuple = (1, 2),
) -> str:
    """Shared DuckDB oracle builder for the P-slice corpora
    (notches 13/14, Annex-B and MP4 schemas): picture-0 PCM sums and
    checksum terms from the closed-form sample formulas in pure SQL
    (``y0_sql``/``cb0_sql``/``cr0_sql`` with ``{r}``/``{c}``
    placeholders); P pictures re-aggregated in SQL from the embedded
    explicit-twin samples (position mapping, per-frame checksum
    weights, plane sums all recomputed in SQL). ``p_nsl`` is the
    P-picture slice count the stream is pinned to."""
    pm_l, pf_l, py_l, pcb_l, pcr_l = [], [], [], [], []
    for i in range(n_clips):
        mbs_w, mbs_h = geom_fn(i)
        pics = clip_fn(i)
        pm, pf, py, pcb, pcr = [], [], [], [], []
        for f in p_frames:
            yp, cbp_, crp_ = pics[f]
            for mb in range(mbs_w * mbs_h):
                mbx, mby = mb % mbs_w, mb // mbs_w
                pm.append(mb)
                pf.append(f)
                py.extend(
                    int(v)
                    for v in yp[
                        16 * mby : 16 * mby + 16,
                        16 * mbx : 16 * mbx + 16,
                    ].reshape(-1)
                )
                pcb.extend(
                    int(v)
                    for v in cbp_[
                        8 * mby : 8 * mby + 8, 8 * mbx : 8 * mbx + 8
                    ].reshape(-1)
                )
                pcr.extend(
                    int(v)
                    for v in crp_[
                        8 * mby : 8 * mby + 8, 8 * mbx : 8 * mbx + 8
                    ].reshape(-1)
                )
        pm_l.append(pm)
        pf_l.append(pf)
        py_l.append(py)
        pcb_l.append(pcb)
        pcr_l.append(pcr)
    y0v = y0_sql.format(
        r="(mby * 16 + o.o // 16)", c="(mbx * 16 + o.o % 16)"
    )
    cb0v = cb0_sql.format(r="r", c="c")
    cr0v = cr0_sql.format(r="r", c="c")
    return f"""
WITH clip AS (
  SELECT i AS media_id, 3 + i % 2 AS mbs_w, {mbs_h_sql} AS mbs_h,
         pm.v AS pm, pf.v AS pf, py.v AS py,
         pcb.v AS pcb, pcr.v AS pcr
  FROM range({n_clips}) t(i)
  JOIN (SELECT UNNEST(range({n_clips})) AS j,
               UNNEST({pm_l!r}) AS v) pm ON pm.j = i
  JOIN (SELECT UNNEST(range({n_clips})) AS j,
               UNNEST({pf_l!r}) AS v) pf ON pf.j = i
  JOIN (SELECT UNNEST(range({n_clips})) AS j,
               UNNEST({py_l!r}) AS v) py ON py.j = i
  JOIN (SELECT UNNEST(range({n_clips})) AS j,
               UNNEST({pcb_l!r}) AS v) pcb ON pcb.j = i
  JOIN (SELECT UNNEST(range({n_clips})) AS j,
               UNNEST({pcr_l!r}) AS v) pcr ON pcr.j = i
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM clip, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma0 AS (
  SELECT media_id, SUM(v) AS s, SUM((mb * 256 + o + 1) * v) AS ck
  FROM (
    SELECT media_id, mb, o.o AS o, {y0v} AS v
    FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  )
  GROUP BY media_id
),
chroma0 AS (
  SELECT media_id, SUM({cb0v}) AS scb, SUM({cr0v}) AS scr
  FROM (
    SELECT media_id, mby * 8 + o.o // 8 AS r, mbx * 8 + o.o % 8 AS c
    FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  )
  GROUP BY media_id
),
luma_p AS (
  SELECT media_id, pf[k.k // 256 + 1] AS f, SUM(py[k.k + 1]) AS s,
         SUM((pm[k.k // 256 + 1] * 256 + k.k % 256 + 1)
             * py[k.k + 1]) AS ck
  FROM clip, LATERAL (SELECT UNNEST(range(len(py))) AS k) k
  GROUP BY media_id, pf[k.k // 256 + 1]
),
chroma_p AS (
  SELECT media_id, pf[k.k // 64 + 1] AS f,
         SUM(pcb[k.k + 1]) AS scb, SUM(pcr[k.k + 1]) AS scr
  FROM clip, LATERAL (SELECT UNNEST(range(len(pcb))) AS k) k
  GROUP BY media_id, pf[k.k // 64 + 1]
)
SELECT media_id, frame_idx, {slice_col}, width, height, n_mbs,
       sum_y, sum_cb, sum_cr, ck_y
FROM (
  SELECT c.media_id,
         CAST(0 AS INT) AS frame_idx,
         CAST(1 AS INT) AS {slice_col},
         CAST(16 * c.mbs_w AS INT) AS width,
         CAST(16 * c.mbs_h AS INT) AS height,
         CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
         CAST(l.s AS BIGINT) AS sum_y,
         CAST(ch.scb AS BIGINT) AS sum_cb,
         CAST(ch.scr AS BIGINT) AS sum_cr,
         CAST(l.ck % {_CK_MOD} AS BIGINT) AS ck_y
  FROM clip c
  JOIN luma0 l ON l.media_id = c.media_id
  JOIN chroma0 ch ON ch.media_id = c.media_id
  UNION ALL
  SELECT c.media_id,
         CAST(lp.f AS INT) AS frame_idx,
         CAST({p_nsl} AS INT) AS {slice_col},
         CAST(16 * c.mbs_w AS INT) AS width,
         CAST(16 * c.mbs_h AS INT) AS height,
         CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
         CAST(lp.s AS BIGINT) AS sum_y,
         CAST(cp.scb AS BIGINT) AS sum_cb,
         CAST(cp.scr AS BIGINT) AS sum_cr,
         CAST(lp.ck % {_CK_MOD} AS BIGINT) AS ck_y
  FROM clip c
  JOIN luma_p lp ON lp.media_id = c.media_id
  JOIN chroma_p cp
    ON cp.media_id = c.media_id AND cp.f = lp.f
)
ORDER BY media_id, frame_idx
"""


def _sql_h264_p(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-13 corpus."""
    return _sql_p_corpus(
        _N13_CLIPS, _n13_geom, _n13_clip, "2",
        "(7 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(11 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(19 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "1", slice_col,
    )


def _sql_h264_pparts(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-14 partition corpus (two-slice P
    pictures: the n_slices column pins the stream's real structure)."""
    return _sql_p_corpus(
        _N14_CLIPS, _n14_geom, _n14_clip, "3",
        "(13 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(17 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(23 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "2", slice_col,
    )


# SQL_H264_P_DECODE resolves lazily: building it runs the explicit
# twins over the whole corpus, which only the oracle harness needs.
_LAZY_SQL = {
    "SQL_H264_P_DECODE": lambda: _sql_h264_p(),
    "SQL_H264_MP4_P_DECODE": lambda: _sql_h264_p(slice_col="n_nals"),
    "SQL_H264_PPARTS_DECODE": lambda: _sql_h264_pparts(),
    "SQL_H264_P8X8_DECODE": lambda: _sql_h264_p8x8(),
    "SQL_H264_MULTIREF_DECODE": lambda: _sql_h264_multiref(),
    "SQL_H264_WEIGHTED_DECODE": lambda: _sql_h264_weighted(),
    "SQL_H264_REORDER_DECODE": lambda: _sql_h264_reorder(),
}


def __getattr__(name: str) -> str:
    if name in _LAZY_SQL:
        value = _LAZY_SQL[name]()
        globals()[name] = value
        return value
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )


# ---------------------------------------------------------------------
# Notch 14: P macroblock PARTITIONS (16x8 / 8x16) x two-slice P
# pictures. Each clip: IDR PCM base (one slice), then two P pictures
# each split into TWO slices (MB rows 0-1 / row 2), so row-2 inter
# macroblocks derive their MV predictors with the top edge
# SLICE-GATED away (spec 8.4.1.3 neighbor availability) — composed
# with per-partition motion (two mvd pairs per MB, the directional
# 16x8/8x16 MVP shortcuts, partition-granular neighbor state),
# inter residuals, skip runs, and intra-in-P.
# ---------------------------------------------------------------------

_N14_CLIPS = 12
_N14_SEED = 64  # value-seed offset: decouples residuals from notch 13


def _n14_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 3


def _n14_y0(i: int, r: int, c: int) -> int:
    return (13 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n14_cb0(i: int, r: int, c: int) -> int:
    return (17 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n14_cr0(i: int, r: int, c: int) -> int:
    return (23 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


def _n14_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    """0 = P_Skip, 1 = P_L0_16x16 + residuals, 2 = P_L0_L0_16x8,
    3 = P_L0_L0_8x16, 4 = intra-in-P (only at slice-A interior
    positions where left+top are same-slice available; elsewhere the
    slot degrades to 16x8)."""
    k = (i + 2 * f + 3 * mb) % 5
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 4 and not (mby == 1 and mbx > 0):
        return 2
    return k


def _n14_mv(i: int, f: int, mb: int, part: int) -> tuple[int, int]:
    """Per-PARTITION quarter-pel motion vector (part 0/1): phase pair
    driven directly, integer part -3..3 px, every fifth (i, mb, f)
    scaled 8x for edge clamping."""
    qx = (i + mb + 2 * f + part) % 4
    qy = (2 * i + 3 * mb + f + 2 * part) % 4
    ix = ((i + 5 * mb + 7 * f + 3 * part) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f + part) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n14_parts(mb_kind: int) -> list[tuple]:
    """Partition tuples (shape, partIdx, ox, oy, w, h) for inter
    kinds 1/2/3."""
    if mb_kind == 1:
        return [("16x16", 0, 0, 0, 16, 16)]
    if mb_kind == 2:
        return [("16x8", 0, 0, 0, 16, 8), ("16x8", 1, 0, 8, 16, 8)]
    return [("8x16", 0, 0, 0, 8, 16), ("8x16", 1, 8, 0, 8, 16)]


def _n14_clip(i: int):
    """Expected reconstruction of notch-14 clip ``i`` via the
    explicit twins: IDR PCM base, then two P pictures decoded with
    TWO slices each (rows 0-1 / row 2) — MV prediction, CAVLC nC and
    intra availability all slice-gated exactly as the decoder's."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n14_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    sj = _N14_SEED + i  # residual-generator seed
    y0p = np.array(
        [[_n14_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n14_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n14_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2):
        ry, rcb, rcr = pics[-1]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        slice_of = [-1] * n_mbs
        cur_sl = [0]
        st = _x_new_mvstate(
            mbs_w,
            mbs_h,
            lambda o: done[o] and slice_of[o] == cur_sl[0],
        )

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(sj, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(sj, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            cur_sl[0] = 0 if mby < 2 else 1
            kind = _n14_kind(i, f, mb, mbs_w)
            if kind == 4:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                at = (
                    mby > 0
                    and done[mb - mbs_w]
                    and slice_of[mb - mbs_w] == cur_sl[0]
                )
                al = (
                    mbx > 0
                    and done[mb - 1]
                    and slice_of[mb - 1] == cur_sl[0]
                )
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(sj, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            elif kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                pred = _x_mc_luma(
                    ry, 16 * mbx, 16 * mby, 16, 16, mvx, mvy
                )
                for r in range(16):
                    for c in range(16):
                        yp[16 * mby + r, 16 * mbx + c] = pred[r][c]
                for plane, refp in ((cbp_, rcb), (crp_, rcr)):
                    pc = _x_mc_chroma(
                        refp, 8 * mbx, 8 * mby, 8, 8, mvx, mvy
                    )
                    for r in range(8):
                        for c in range(8):
                            plane[8 * mby + r, 8 * mbx + c] = pc[r][c]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            else:
                # twin reconstructs from the closed-form target mvs
                # (the encoder derives mvd via _x_mvp_part; the
                # decoder re-derives the predictor independently)
                for shp, pidx, ox, oy, pw, ph in _n14_parts(kind):
                    bx = 4 * mbx + ox // 4
                    by = 4 * mby + oy // 4
                    mvx, mvy = _n14_mv(i, f, mb, pidx)
                    pred = _x_mc_luma(
                        ry, 16 * mbx + ox, 16 * mby + oy,
                        pw, ph, mvx, mvy,
                    )
                    for r in range(ph):
                        for c in range(pw):
                            yp[
                                16 * mby + oy + r, 16 * mbx + ox + c
                            ] = pred[r][c]
                    for plane, refp in ((cbp_, rcb), (crp_, rcr)):
                        pc = _x_mc_chroma(
                            refp,
                            (16 * mbx + ox) // 2,
                            (16 * mby + oy) // 2,
                            pw // 2, ph // 2, mvx, mvy,
                        )
                        for r in range(ph // 2):
                            for c in range(pw // 2):
                                plane[
                                    (16 * mby + oy) // 2 + r,
                                    (16 * mbx + ox) // 2 + c,
                                ] = pc[r][c]
                    _x_fill4(
                        st, bx, by, pw // 4, ph // 4, mvx, mvy, 0
                    )
                cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                for blk in range(16):
                    bi, bj = _BLK4_POS[blk]
                    if cbp_luma & (1 << (blk // 4)):
                        add_luma_block(
                            4 * mby + bi,
                            4 * mbx + bj,
                            _n13_lv16(sj, f, mb, blk),
                        )
                add_chroma(mb, mbx, mby, cbp_chroma)
            slice_of[mb] = cur_sl[0]
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


def _p14_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-14 NAL units for clip ``i``: SPS/PPS, one-slice IDR PCM
    base picture, then two P pictures of TWO slice NALs each (rows
    0-1 at first_mb 0, row 2 at first_mb 2*mbs_w) — per-slice
    mb_skip_run, slice-gated MVP / CAVLC-nC availability mirrored
    encoder-side, per-partition mvd derived through the twin
    predictor."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n14_geom(i)
    n_mbs = mbs_w * mbs_h
    sj = _N14_SEED + i

    sps = _BitWriter()
    sps.u(66, 8)
    sps.u(0, 8)
    sps.u(10, 8)
    sps.ue(0)
    sps.ue(0)
    sps.ue(0)
    sps.ue(0)
    sps.ue(1)  # max_num_ref_frames = 1
    sps.u(0, 1)
    sps.ue(mbs_w - 1)
    sps.ue(mbs_h - 1)
    sps.u(1, 1)
    sps.u(0, 1)
    sps.u(0, 1)
    sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    # picture 0: IDR, all I_PCM, one slice
    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n14_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n14_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n14_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2):
        # per-picture state shared across the picture's two slices
        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        slice_of = [-1] * n_mbs
        cur_sl = [0]
        cur_mb = [-1]
        # the current MB's own earlier partitions are visible to its
        # later ones (spec 6.4.11.7), exactly as the decoder sees them
        st = _x_new_mvstate(
            mbs_w,
            mbs_h,
            lambda o: o == cur_mb[0]
            or (done[o] and slice_of[o] == cur_sl[0]),
        )
        pic_nals: list[bytes] = []
        for s_idx, (mb_lo, mb_hi) in enumerate(
            ((0, 2 * mbs_w), (2 * mbs_w, n_mbs))
        ):
            cur_sl[0] = s_idx
            sl = _BitWriter()
            sl.ue(mb_lo)  # first_mb_in_slice
            sl.ue(5)  # slice_type P
            sl.ue(0)  # pic_parameter_set_id
            sl.u(f, 4)  # frame_num
            sl.u((2 * f) % 16, 4)  # pic_order_cnt_lsb
            sl.u(0, 1)  # num_ref_idx_active_override_flag
            sl.u(0, 1)  # ref_pic_list_modification_flag_l0
            sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
            sl.se(0)  # slice_qp_delta
            sl.ue(1)  # disable_deblocking_filter_idc

            def visible(omb: int, mb: int) -> bool:
                return omb == mb or (
                    done[omb] and slice_of[omb] == cur_sl[0]
                )

            def ncof(arr, rr: int, cc_: int, bs: int, mb: int) -> int:
                def g(r_, c_):
                    if (
                        r_ < 0 or c_ < 0
                        or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                    ):
                        return -1
                    v = int(arr[r_, c_])
                    if v < 0:
                        return -1
                    omb = (r_ // bs) * mbs_w + (c_ // bs)
                    return v if visible(omb, mb) else -1

                na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
                if na >= 0 and nb >= 0:
                    return (na + nb + 1) >> 1
                if na >= 0:
                    return na
                if nb >= 0:
                    return nb
                return 0

            def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
                if cc_ == 0:
                    ctc4[
                        :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                    ] = 0
                    return
                _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 0))
                _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 1))
                for p_ in range(2):
                    for bk in range(4):
                        rr = 2 * mby + bk // 2
                        cx = 2 * mbx + bk % 2
                        if cc_ == 2:
                            n_c = ncof(ctc4[p_], rr, cx, 2, mb)
                            ctc4[p_, rr, cx] = _write_residual_4x4(
                                sl,
                                _n13_ac15(sj, f, mb, bk, 1 + p_),
                                n_c,
                                15,
                            )
                        else:
                            ctc4[p_, rr, cx] = 0

            skip_run = 0
            for mb in range(mb_lo, mb_hi):
                mbx, mby = mb % mbs_w, mb // mbs_w
                cur_mb[0] = mb
                kind = _n14_kind(i, f, mb, mbs_w)
                if kind == 0:
                    mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                    _x_fill4(
                        st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0
                    )
                    tc4[
                        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                    ] = 0
                    ctc4[
                        :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                    ] = 0
                    slice_of[mb] = s_idx
                    done[mb] = True
                    skip_run += 1
                    continue
                sl.ue(skip_run)
                skip_run = 0
                if kind == 4:
                    pm16, cm, cc_ = _n13_intra(sj, f, mb)
                    sl.ue(5 + 1 + pm16 + 4 * cc_)
                    sl.ue(cm)
                    sl.se(0)  # mb_qp_delta
                    _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                    n_c = ncof(tc4, 4 * mby, 4 * mbx, 4, mb)
                    _write_residual_4x4(
                        sl, _n13_dc(sj, f, mb), n_c, 16
                    )
                    tc4[
                        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                    ] = 0
                    wchroma(mb, mbx, mby, cc_)
                else:
                    sl.ue(kind - 1)  # mb_type 0/1/2 (Table 7-13)
                    parts = _n14_parts(kind)
                    # all mvd pairs precede reconstruction; each
                    # predictor sees the earlier partition's mv
                    fills = []
                    for shp, pidx, ox, oy, pw, ph in parts:
                        bx = 4 * mbx + ox // 4
                        by = 4 * mby + oy // 4
                        pmx, pmy = _x_mvp_part(
                            bx, by, pw // 4, ph // 4, shp, pidx, st
                        )
                        mvx, mvy = _n14_mv(i, f, mb, pidx)
                        sl.se(mvx - pmx)
                        sl.se(mvy - pmy)
                        _x_fill4(
                            st, bx, by, pw // 4, ph // 4,
                            mvx, mvy, 0,
                        )
                        fills.append((bx, by, pw, ph))
                    cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                    sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
                    if cbp_luma or cbp_chroma:
                        sl.se(0)  # mb_qp_delta
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        if cbp_luma & (1 << (blk // 4)):
                            n_c = ncof(tc4, r4, c4, 4, mb)
                            tc4[r4, c4] = _write_residual_4x4(
                                sl, _n13_lv16(sj, f, mb, blk), n_c, 16
                            )
                        else:
                            tc4[r4, c4] = 0
                    wchroma(mb, mbx, mby, cbp_chroma)
                slice_of[mb] = s_idx
                done[mb] = True
            if skip_run:
                sl.ue(skip_run)
            sl.rbsp_trailing()
            pic_nals.append(nal(2, 1, sl))
        pictures.append(pic_nals)
    return sps_nal, pps_nal, pictures


def encode_pparts_annexb(i: int) -> bytes:
    """The notch-14 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p14_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_pparts_media(
    spark: SparkSession, n: int = _N14_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_pparts_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_pparts_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 14): decode 12 Annex-B streams whose P
    pictures carry 16x8 / 8x16 macroblock PARTITIONS across TWO
    slices each — per-partition mvd pairs, partition-granular
    neighbor state (spec 6.4.11.7), the directional MVP shortcuts
    (8.4.1.3: 16x8 top takes B, bottom takes A; 8x16 left takes A,
    right takes C), row-2 macroblocks deriving predictors with the
    top edge SLICE-GATED away, 16x8/8x16-sized quarter-pel motion
    compensation, inter residuals and intra-in-P over the partitioned
    neighborhood — one exact statistics row per frame (n_slices pins
    the real two-slice structure) under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_pparts_media(spark)),
        "media_id",
        "frame_idx",
    )


# ---------------------------------------------------------------------
# Notch 15: P_8x8 / P_8x8ref0 SUB-macroblock partitions — the
# remaining branch of the P partition tree. Each 8x8 block carries
# its own sub_mb_type (8x8 / 8x4 / 4x8 / 4x4, Table 7-17, mixed
# within one MB) with per-sub-partition mvd pairs, median MVP at
# sub-partition granularity (C/D substitution against not-yet-decoded
# same-MB blocks), and 8x4/4x8/4x4-sized quarter-pel MC (2x2-tier
# chroma). mb_type alternates 3 / 4 (P_8x8ref0 parses identically
# with one active reference).
# ---------------------------------------------------------------------

_N15_CLIPS = 12
_N15_SEED = 128


def _n15_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 2


def _n15_y0(i: int, r: int, c: int) -> int:
    return (29 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n15_cb0(i: int, r: int, c: int) -> int:
    return (31 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n15_cr0(i: int, r: int, c: int) -> int:
    return (37 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


def _n15_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    """0 = P_Skip, 1 = P_8x8 without residual, 2 = P_8x8 with
    residuals, 3 = intra-in-P (interior only; edge slots degrade to
    4), 4 = P_L0_16x16 with residuals (neighbor-shape diversity for
    the sub-partition predictors)."""
    k = (i + 2 * f + 3 * mb) % 4
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 3 and (mbx == 0 or mby == 0):
        return 4
    return k


def _n15_smt(i: int, f: int, mb: int, b8: int) -> int:
    """sub_mb_type for 8x8 block ``b8`` — all four Table 7-17 types,
    mixed within one macroblock."""
    return (i + f + mb + b8) % 4


def _n15_mv(i, f, mb, b8, s) -> tuple[int, int]:
    """Per-SUB-partition quarter-pel motion vector."""
    qx = (i + mb + 2 * f + b8 + s) % 4
    qy = (2 * i + 3 * mb + f + 2 * b8 + 3 * s) % 4
    ix = ((i + 5 * mb + 7 * f + 3 * b8 + s) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f + b8 + 2 * s) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n15_plan(i: int, f: int, mb: int) -> list[tuple]:
    """The (ox, oy, pw, ph, mvx, mvy) sub-partition plan of a P_8x8
    macroblock, in spec decode order."""
    from magmapandas_spark.operators.h264 import _SUB_MB_GEOM

    plan = []
    for b8 in range(4):
        smt = _n15_smt(i, f, mb, b8)
        ox8, oy8 = 8 * (b8 % 2), 8 * (b8 // 2)
        for s, (sx, sy, pw, ph) in enumerate(_SUB_MB_GEOM[smt]):
            mvx, mvy = _n15_mv(i, f, mb, b8, s)
            plan.append((ox8 + sx, oy8 + sy, pw, ph, mvx, mvy))
    return plan


def _n15_clip(i: int):
    """Expected reconstruction of notch-15 clip ``i`` via the
    explicit twins: IDR PCM base, then two single-slice P pictures
    mixing P_8x8 (all sub-partition shapes), P_L0_16x16, P_Skip and
    intra-in-P."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n15_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    sj = _N15_SEED + i
    y0p = np.array(
        [[_n15_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n15_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n15_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2):
        ry, rcb, rcr = pics[-1]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby):
            pred = _x_mc_luma(
                ry, 16 * mbx + ox, 16 * mby + oy, pw, ph, mvx, mvy
            )
            for r in range(ph):
                for c in range(pw):
                    yp[
                        16 * mby + oy + r, 16 * mbx + ox + c
                    ] = pred[r][c]
            for plane, refp in ((cbp_, rcb), (crp_, rcr)):
                pc = _x_mc_chroma(
                    refp,
                    (16 * mbx + ox) // 2,
                    (16 * mby + oy) // 2,
                    pw // 2, ph // 2, mvx, mvy,
                )
                for r in range(ph // 2):
                    for c in range(pw // 2):
                        plane[
                            (16 * mby + oy) // 2 + r,
                            (16 * mbx + ox) // 2 + c,
                        ] = pc[r][c]

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(sj, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(sj, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n15_kind(i, f, mb, mbs_w)
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                at = mby > 0 and done[mb - mbs_w]
                al = mbx > 0 and done[mb - 1]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(sj, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            elif kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                mc_into(0, 0, 16, 16, mvx, mvy, mbx, mby)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            else:
                if kind == 4:
                    mvx, mvy = _n15_mv(i, f, mb, 0, 0)
                    mc_into(0, 0, 16, 16, mvx, mvy, mbx, mby)
                    _x_fill4(
                        st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0
                    )
                else:
                    for ox, oy, pw, ph, mvx, mvy in _n15_plan(
                        i, f, mb
                    ):
                        mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby)
                        _x_fill4(
                            st,
                            4 * mbx + ox // 4, 4 * mby + oy // 4,
                            pw // 4, ph // 4, mvx, mvy, 0,
                        )
                if kind in (2, 4):
                    cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        if cbp_luma & (1 << (blk // 4)):
                            add_luma_block(
                                4 * mby + bi,
                                4 * mbx + bj,
                                _n13_lv16(sj, f, mb, blk),
                            )
                    add_chroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


def _p15_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-15 NAL units: SPS/PPS, IDR PCM base, two single-slice P
    pictures whose P_8x8 macroblocks carry per-8x8 sub_mb_type syntax
    and per-sub-partition mvd pairs derived through the twin
    predictor; mb_type alternates P_8x8 / P_8x8ref0."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n15_geom(i)
    n_mbs = mbs_w * mbs_h
    sj = _N15_SEED + i

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(1)
    sps.u(0, 1)
    sps.ue(mbs_w - 1); sps.ue(mbs_h - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n15_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n15_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n15_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2):
        sl = _BitWriter()
        sl.ue(0); sl.ue(5); sl.ue(0)
        sl.u(f, 4); sl.u((2 * f) % 16, 4)
        sl.u(0, 1); sl.u(0, 1); sl.u(0, 1)
        sl.se(0)
        sl.ue(1)  # disable_deblocking_filter_idc

        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        cur_mb = [-1]
        st = _x_new_mvstate(
            mbs_w, mbs_h,
            lambda o: o == cur_mb[0] or done[o],
        )

        def ncof(arr, rr: int, cc_: int) -> int:
            def g(r_, c_):
                if (
                    r_ < 0 or c_ < 0
                    or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                ):
                    return -1
                return int(arr[r_, c_])

            na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
            if na >= 0 and nb >= 0:
                return (na + nb + 1) >> 1
            if na >= 0:
                return na
            if nb >= 0:
                return nb
            return 0

        def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
            if cc_ == 0:
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                return
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 0))
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 1))
            for p_ in range(2):
                for bk in range(4):
                    rr = 2 * mby + bk // 2
                    cx = 2 * mbx + bk % 2
                    if cc_ == 2:
                        n_c = ncof(ctc4[p_], rr, cx)
                        ctc4[p_, rr, cx] = _write_residual_4x4(
                            sl,
                            _n13_ac15(sj, f, mb, bk, 1 + p_),
                            n_c,
                            15,
                        )
                    else:
                        ctc4[p_, rr, cx] = 0

        def write_inter_residuals(mb, mbx, mby, cbp_luma, cbp_chroma):
            sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
            if cbp_luma or cbp_chroma:
                sl.se(0)  # mb_qp_delta
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                if cbp_luma & (1 << (blk // 4)):
                    n_c = ncof(tc4, r4, c4)
                    tc4[r4, c4] = _write_residual_4x4(
                        sl, _n13_lv16(sj, f, mb, blk), n_c, 16
                    )
                else:
                    tc4[r4, c4] = 0
            wchroma(mb, mbx, mby, cbp_chroma)

        skip_run = 0
        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            cur_mb[0] = mb
            kind = _n15_kind(i, f, mb, mbs_w)
            if kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                done[mb] = True
                skip_run += 1
                continue
            sl.ue(skip_run)
            skip_run = 0
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                sl.ue(5 + 1 + pm16 + 4 * cc_)
                sl.ue(cm)
                sl.se(0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                n_c = ncof(tc4, 4 * mby, 4 * mbx)
                _write_residual_4x4(sl, _n13_dc(sj, f, mb), n_c, 16)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                wchroma(mb, mbx, mby, cc_)
            elif kind == 4:
                sl.ue(0)  # P_L0_16x16
                pmx, pmy = _x_mvp_part(
                    4 * mbx, 4 * mby, 4, 4, "16x16", 0, st
                )
                mvx, mvy = _n15_mv(i, f, mb, 0, 0)
                sl.se(mvx - pmx)
                sl.se(mvy - pmy)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                write_inter_residuals(
                    mb, mbx, mby, cbp_luma, cbp_chroma
                )
            else:  # P_8x8 / P_8x8ref0
                sl.ue(3 + ((i + mb) % 2))
                for b8 in range(4):
                    sl.ue(_n15_smt(i, f, mb, b8))
                for ox, oy, pw, ph, mvx, mvy in _n15_plan(i, f, mb):
                    bx = 4 * mbx + ox // 4
                    by = 4 * mby + oy // 4
                    pmx, pmy = _x_mvp_part(
                        bx, by, pw // 4, ph // 4, "8x8", 0, st
                    )
                    sl.se(mvx - pmx)
                    sl.se(mvy - pmy)
                    _x_fill4(
                        st, bx, by, pw // 4, ph // 4, mvx, mvy, 0
                    )
                cbp_luma, cbp_chroma = (
                    _n13_cbp(sj, f, mb) if kind == 2 else (0, 0)
                )
                write_inter_residuals(
                    mb, mbx, mby, cbp_luma, cbp_chroma
                )
            done[mb] = True
        if skip_run:
            sl.ue(skip_run)
        sl.rbsp_trailing()
        pictures.append([nal(2, 1, sl)])
    return sps_nal, pps_nal, pictures


def encode_p8x8_annexb(i: int) -> bytes:
    """The notch-15 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p15_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_p8x8_media(
    spark: SparkSession, n: int = _N15_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_p8x8_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_p8x8_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 15): decode 12 Annex-B streams whose P
    pictures carry P_8x8 / P_8x8ref0 macroblocks — per-8x8
    sub_mb_type syntax (all four Table 7-17 shapes, mixed within one
    MB), per-sub-partition mvd pairs, median MV prediction at
    sub-partition granularity (C substituted by D against
    not-yet-decoded same-MB blocks), 8x4 / 4x8 / 4x4 quarter-pel
    motion compensation with 2x2-tier chroma — beside 16x16 inter,
    skip and intra macroblocks, completing the entire P-slice
    partition tree. One exact statistics row per frame under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_p8x8_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_h264_p8x8(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-15 sub-partition corpus."""
    return _sql_p_corpus(
        _N15_CLIPS, _n15_geom, _n15_clip, "2",
        "(29 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(31 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(37 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "1", slice_col,
    )


# ---------------------------------------------------------------------
# Notch 16: MULTIPLE REFERENCE FRAMES. Four-picture clips
# (I -> P1 -> P2 -> P3): P1 decodes with one active reference via the
# num_ref_idx_active_override path; P2/P3 decode with TWO (the PPS
# default), choosing per-partition / per-8x8 references through real
# te(v) ref_idx_l0 elements. The MV predictor's refIdx machinery is
# exercised non-vacuously: neighbors with a DIFFERENT refIdx still
# feed the median but are excluded from the exactly-one rule and the
# directional shortcuts. P_8x8ref0 macroblocks appear beside P_8x8 in
# the same pictures (their refIdx inferred 0, no te(v) coded).
# ---------------------------------------------------------------------

_N16_CLIPS = 12
_N16_SEED = 192


def _n16_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 2


def _n16_y0(i: int, r: int, c: int) -> int:
    return (41 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n16_cb0(i: int, r: int, c: int) -> int:
    return (43 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n16_cr0(i: int, r: int, c: int) -> int:
    return (47 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


def _n16_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    """0 = P_Skip, 1 = P_L0_16x16 + residuals, 2 = 16x8 partitions,
    3 = P_8x8/P_8x8ref0, 4 = intra-in-P (interior; edge slots degrade
    to 1)."""
    k = (i + 2 * f + 3 * mb) % 5
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 4 and (mbx == 0 or mby == 0):
        return 1
    return k


def _n16_ref(i: int, f: int, mb: int, unit: int, mb_type: int) -> int:
    """Reference index for partition/8x8 unit ``unit``: 0 on the
    single-reference picture (f == 1) and for P_8x8ref0; otherwise
    alternates between the two active references."""
    if f < 2 or mb_type == 4:
        return 0
    return (i + f + mb + unit) % 2


def _n16_mv(i, f, mb, j) -> tuple[int, int]:
    """Per-partition quarter-pel motion (flat part index ``j``)."""
    qx = (i + mb + 2 * f + j) % 4
    qy = (2 * i + 3 * mb + f + 3 * j) % 4
    ix = ((i + 5 * mb + 7 * f + 3 * j) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f + 2 * j) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n16_mbtype(i: int, mb: int) -> int:
    return 3 + ((i + mb) % 2)  # P_8x8 / P_8x8ref0


def _n16_parts(i: int, f: int, mb: int, kind: int) -> list[tuple]:
    """(shape, partIdx, ox, oy, pw, ph, unit) plan for inter kinds."""
    from magmapandas_spark.operators.h264 import _SUB_MB_GEOM

    if kind == 1:
        return [("16x16", 0, 0, 0, 16, 16, 0)]
    if kind == 2:
        return [
            ("16x8", 0, 0, 0, 16, 8, 0),
            ("16x8", 1, 0, 8, 16, 8, 1),
        ]
    plan = []
    for b8 in range(4):
        smt = (i + f + mb + b8) % 4
        ox8, oy8 = 8 * (b8 % 2), 8 * (b8 // 2)
        for sx, sy, pw, ph in _SUB_MB_GEOM[smt]:
            plan.append(("8x8", 0, ox8 + sx, oy8 + sy, pw, ph, b8))
    return plan


def _n16_clip(i: int):
    """Expected reconstruction of notch-16 clip ``i`` via the
    explicit twins: IDR PCM base, then THREE P pictures — the first
    single-reference, the next two choosing per-unit references from
    a two-picture DPB."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n16_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    sj = _N16_SEED + i
    y0p = np.array(
        [[_n16_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n16_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n16_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2, 3):
        refs = [pics[f - 1 - k] for k in range(min(f, 2))]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx):
            ry, rcb, rcr = refs[ridx]
            pred = _x_mc_luma(
                ry, 16 * mbx + ox, 16 * mby + oy, pw, ph, mvx, mvy
            )
            for r in range(ph):
                for c in range(pw):
                    yp[
                        16 * mby + oy + r, 16 * mbx + ox + c
                    ] = pred[r][c]
            for plane, refp in ((cbp_, rcb), (crp_, rcr)):
                pc = _x_mc_chroma(
                    refp,
                    (16 * mbx + ox) // 2,
                    (16 * mby + oy) // 2,
                    pw // 2, ph // 2, mvx, mvy,
                )
                for r in range(ph // 2):
                    for c in range(pw // 2):
                        plane[
                            (16 * mby + oy) // 2 + r,
                            (16 * mbx + ox) // 2 + c,
                        ] = pc[r][c]

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(sj, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(sj, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n16_kind(i, f, mb, mbs_w)
            if kind == 4:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                at = mby > 0 and done[mb - mbs_w]
                al = mbx > 0 and done[mb - 1]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(sj, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            elif kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                mc_into(0, 0, 16, 16, mvx, mvy, mbx, mby, 0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            else:
                mb_type = _n16_mbtype(i, mb) if kind == 3 else kind - 1
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    _n16_parts(i, f, mb, kind)
                ):
                    ridx = _n16_ref(i, f, mb, unit, mb_type)
                    mvx, mvy = _n16_mv(i, f, mb, j)
                    mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx)
                    _x_fill4(
                        st,
                        4 * mbx + ox // 4, 4 * mby + oy // 4,
                        pw // 4, ph // 4, mvx, mvy, ridx,
                    )
                if kind in (1, 2, 3):
                    cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        if cbp_luma & (1 << (blk // 4)):
                            add_luma_block(
                                4 * mby + bi,
                                4 * mbx + bj,
                                _n13_lv16(sj, f, mb, blk),
                            )
                    add_chroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


def _p16_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-16 NAL units: SPS (max_num_ref_frames 2), PPS with TWO
    default active references, IDR PCM base, then three P pictures —
    P1 overriding to one reference, P2/P3 coding per-unit te(v)
    ref_idx_l0 against the two-picture DPB."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n16_geom(i)
    n_mbs = mbs_w * mbs_h
    sj = _N16_SEED + i

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
    sps.ue(2)  # max_num_ref_frames = 2
    sps.u(0, 1)
    sps.ue(mbs_w - 1); sps.ue(mbs_h - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(1)  # num_ref_idx_l0_default_active_minus1 = 1 (two refs)
    pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n16_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n16_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n16_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2, 3):
        n_ref = 1 if f == 1 else 2
        sl = _BitWriter()
        sl.ue(0); sl.ue(5); sl.ue(0)
        sl.u(f % 16, 4); sl.u((2 * f) % 16, 4)
        if f == 1:
            sl.u(1, 1)  # num_ref_idx_active_override_flag
            sl.ue(0)  # num_ref_idx_l0_active_minus1 = 0 (one ref)
        else:
            sl.u(0, 1)  # keep the PPS default of two
        sl.u(0, 1)  # ref_pic_list_modification_flag_l0
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
        sl.se(0)
        sl.ue(1)  # disable_deblocking_filter_idc

        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        cur_mb = [-1]
        st = _x_new_mvstate(
            mbs_w, mbs_h,
            lambda o: o == cur_mb[0] or done[o],
        )

        def ncof(arr, rr: int, cc_: int) -> int:
            def g(r_, c_):
                if (
                    r_ < 0 or c_ < 0
                    or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                ):
                    return -1
                return int(arr[r_, c_])

            na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
            if na >= 0 and nb >= 0:
                return (na + nb + 1) >> 1
            if na >= 0:
                return na
            if nb >= 0:
                return nb
            return 0

        def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
            if cc_ == 0:
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                return
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 0))
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 1))
            for p_ in range(2):
                for bk in range(4):
                    rr = 2 * mby + bk // 2
                    cx = 2 * mbx + bk % 2
                    if cc_ == 2:
                        n_c = ncof(ctc4[p_], rr, cx)
                        ctc4[p_, rr, cx] = _write_residual_4x4(
                            sl,
                            _n13_ac15(sj, f, mb, bk, 1 + p_),
                            n_c,
                            15,
                        )
                    else:
                        ctc4[p_, rr, cx] = 0

        def write_inter_residuals(mb, mbx, mby, cbp_luma, cbp_chroma):
            sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
            if cbp_luma or cbp_chroma:
                sl.se(0)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                if cbp_luma & (1 << (blk // 4)):
                    n_c = ncof(tc4, r4, c4)
                    tc4[r4, c4] = _write_residual_4x4(
                        sl, _n13_lv16(sj, f, mb, blk), n_c, 16
                    )
                else:
                    tc4[r4, c4] = 0
            wchroma(mb, mbx, mby, cbp_chroma)

        skip_run = 0
        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            cur_mb[0] = mb
            kind = _n16_kind(i, f, mb, mbs_w)
            if kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                done[mb] = True
                skip_run += 1
                continue
            sl.ue(skip_run)
            skip_run = 0
            if kind == 4:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                sl.ue(5 + 1 + pm16 + 4 * cc_)
                sl.ue(cm)
                sl.se(0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                n_c = ncof(tc4, 4 * mby, 4 * mbx)
                _write_residual_4x4(sl, _n13_dc(sj, f, mb), n_c, 16)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                wchroma(mb, mbx, mby, cc_)
            else:
                mb_type = _n16_mbtype(i, mb) if kind == 3 else kind - 1
                parts = _n16_parts(i, f, mb, kind)
                sl.ue(mb_type)
                if mb_type >= 3:
                    for b8 in range(4):
                        sl.ue((i + f + mb + b8) % 4)  # sub_mb_type
                # ref_idx_l0 elements before every mvd pair
                if n_ref > 1 and mb_type != 4:
                    n_units = (
                        4 if mb_type == 3 else len(parts)
                    )
                    for u in range(n_units):
                        ridx = _n16_ref(i, f, mb, u, mb_type)
                        sl.u(1 - ridx, 1)  # te(v), cMax = 1
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    parts
                ):
                    ridx = _n16_ref(i, f, mb, unit, mb_type)
                    bx = 4 * mbx + ox // 4
                    by = 4 * mby + oy // 4
                    pmx, pmy = _x_mvp_part(
                        bx, by, pw // 4, ph // 4, shp, pidx, st,
                        cur_ref=ridx,
                    )
                    mvx, mvy = _n16_mv(i, f, mb, j)
                    sl.se(mvx - pmx)
                    sl.se(mvy - pmy)
                    _x_fill4(
                        st, bx, by, pw // 4, ph // 4, mvx, mvy, ridx
                    )
                cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                write_inter_residuals(
                    mb, mbx, mby, cbp_luma, cbp_chroma
                )
            done[mb] = True
        if skip_run:
            sl.ue(skip_run)
        sl.rbsp_trailing()
        pictures.append([nal(2, 1, sl)])
    return sps_nal, pps_nal, pictures


def encode_multiref_annexb(i: int) -> bytes:
    """The notch-16 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p16_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_multiref_media(
    spark: SparkSession, n: int = _N16_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_multiref_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_multiref_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 16): decode 12 Annex-B streams whose P
    pictures choose among MULTIPLE reference frames — a real DPB of
    two decoded reference pictures (RefPicList0 in PicNum order),
    te(v) ref_idx_l0 elements per partition (16x16/16x8) and per 8x8
    block (P_8x8; P_8x8ref0 infers 0 with no element), the
    num_ref_idx_active_override path (picture 1 decodes
    single-reference against a two-reference PPS default), and
    refIdx-aware MV prediction (different-reference neighbors feed
    the median but are excluded from the exactly-one rule and the
    directional shortcuts) — one exact statistics row per frame under
    the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_multiref_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_h264_multiref(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-16 multi-reference corpus."""
    return _sql_p_corpus(
        _N16_CLIPS, _n16_geom, _n16_clip, "2",
        "(41 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(43 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(47 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "1", slice_col, p_frames=(1, 2, 3),
    )


# ---------------------------------------------------------------------
# Notch 17: EXPLICIT WEIGHTED PREDICTION (spec 7.3.3.2 + 8.4.2.3.2)
# — the fade/brightness tool of real P encodes. PPS
# weighted_pred_flag = 1; every P slice carries a pred_weight_table
# with per-reference luma/chroma weights and offsets (some references
# keep the default via unset flags); every motion-compensated
# partition and P_Skip macroblock scales through
# Clip1(((pred * w + 2^(logWD-1)) >> logWD) + o). The corpus sweeps
# logWD 5..7, non-default weights around the identity, large
# offsets (clipping), and one NEGATIVE weight (inversion) — across
# two references chosen per partition.
# ---------------------------------------------------------------------

_N17_CLIPS = 12
_N17_SEED = 256


def _n17_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 2


def _n17_y0(i: int, r: int, c: int) -> int:
    return (53 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n17_cb0(i: int, r: int, c: int) -> int:
    return (59 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n17_cr0(i: int, r: int, c: int) -> int:
    return (61 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


def _n17_weights(i: int, n_ref: int) -> dict:
    """Closed-form pred_weight_table for clip ``i``: logWD sweeps
    5..7 (luma) / 4..6 (chroma); per reference, the luma flag is
    unset every third (i + k) (default weight), offsets reach +-10
    plus a large-offset clip (i % 4 == 0: +40, heavy clipping) and a
    NEGATIVE-weight reference (i % 6 == 3, ref 1: inverted fade)."""
    logy = 5 + (i % 3)
    logc = 4 + ((i >> 1) % 3)
    wt = {
        "logy": logy, "logc": logc,
        "wy": [1 << logy] * n_ref, "oy": [0] * n_ref,
        "wcb": [1 << logc] * n_ref, "ocb": [0] * n_ref,
        "wcr": [1 << logc] * n_ref, "ocr": [0] * n_ref,
        "lflag": [False] * n_ref, "cflag": [False] * n_ref,
    }
    for k in range(n_ref):
        if (i + k) % 3 != 0:
            wt["lflag"][k] = True
            # coded weights must fit -128..127 even at logWD 7, so
            # the sweep stays below the (possibly 128) default
            wt["wy"][k] = (1 << logy) - 8 - 8 * ((i + 2 * k) % 5)
            wt["oy"][k] = ((3 * i + 7 * k) % 21) - 10
            if i % 4 == 0:
                wt["oy"][k] = 40
            if i % 6 == 3 and k == 1:
                wt["wy"][k] = -(1 << logy)
                wt["oy"][k] = 127
        if (i + k) % 2 == 0:
            wt["cflag"][k] = True
            wt["wcb"][k] = (1 << logc) + 4 * (((i + k) % 5) - 2)
            wt["ocb"][k] = ((5 * i + 3 * k) % 17) - 8
            wt["wcr"][k] = (1 << logc) + 4 * (((i + 3 * k) % 5) - 2)
            wt["ocr"][k] = ((7 * i + 5 * k) % 17) - 8
    return wt


def _x_weight(v: int, w: int, o: int, logwd: int) -> int:
    """Explicit twin of spec 8.4.2.3.2 uni-prediction weighting."""
    if logwd >= 1:
        return _x_clip1(((v * w + (1 << (logwd - 1))) >> logwd) + o)
    return _x_clip1(v * w + o)


def _n17_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    """0 = weighted P_Skip, 1 = 16x16 + residuals, 2 = 16x8
    partitions, 3 = intra-in-P (interior; edges degrade to 1 without
    residuals -> kind 4)."""
    k = (i + 2 * f + 3 * mb) % 4
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 3 and (mbx == 0 or mby == 0):
        return 4
    return k


def _n17_ref(i: int, f: int, mb: int, unit: int) -> int:
    return 0 if f < 2 else (i + mb + unit) % 2


def _n17_mv(i, f, mb, j) -> tuple[int, int]:
    qx = (i + mb + 2 * f + j) % 4
    qy = (2 * i + 3 * mb + f + 3 * j) % 4
    ix = ((i + 5 * mb + 7 * f + 3 * j) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f + 2 * j) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n17_clip(i: int):
    """Expected reconstruction of the weighted-prediction corpus via
    the explicit twins (every MC output routed through _x_weight)."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n17_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    sj = _N17_SEED + i
    y0p = np.array(
        [[_n17_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n17_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n17_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2):
        n_ref = 1 if f == 1 else 2
        wt = _n17_weights(i, n_ref)
        refs = [pics[f - 1 - k] for k in range(n_ref)]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx):
            ry, rcb, rcr = refs[ridx]
            pred = _x_mc_luma(
                ry, 16 * mbx + ox, 16 * mby + oy, pw, ph, mvx, mvy
            )
            for r in range(ph):
                for c in range(pw):
                    yp[16 * mby + oy + r, 16 * mbx + ox + c] = (
                        _x_weight(
                            pred[r][c], wt["wy"][ridx],
                            wt["oy"][ridx], wt["logy"],
                        )
                    )
            for plane, refp, wk, ok in (
                (cbp_, rcb, "wcb", "ocb"),
                (crp_, rcr, "wcr", "ocr"),
            ):
                pc = _x_mc_chroma(
                    refp,
                    (16 * mbx + ox) // 2,
                    (16 * mby + oy) // 2,
                    pw // 2, ph // 2, mvx, mvy,
                )
                for r in range(ph // 2):
                    for c in range(pw // 2):
                        plane[
                            (16 * mby + oy) // 2 + r,
                            (16 * mbx + ox) // 2 + c,
                        ] = _x_weight(
                            pc[r][c], wt[wk][ridx],
                            wt[ok][ridx], wt["logc"],
                        )

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(sj, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(sj, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n17_kind(i, f, mb, mbs_w)
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                at = mby > 0 and done[mb - mbs_w]
                al = mbx > 0 and done[mb - 1]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(sj, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            elif kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                mc_into(0, 0, 16, 16, mvx, mvy, mbx, mby, 0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            else:
                units = (
                    [("16x16", 0, 0, 0, 16, 16, 0)]
                    if kind in (1, 4)
                    else [
                        ("16x8", 0, 0, 0, 16, 8, 0),
                        ("16x8", 1, 0, 8, 16, 8, 1),
                    ]
                )
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    units
                ):
                    ridx = _n17_ref(i, f, mb, unit)
                    mvx, mvy = _n17_mv(i, f, mb, j)
                    mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx)
                    _x_fill4(
                        st,
                        4 * mbx + ox // 4, 4 * mby + oy // 4,
                        pw // 4, ph // 4, mvx, mvy, ridx,
                    )
                if kind in (1, 2):
                    cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        if cbp_luma & (1 << (blk // 4)):
                            add_luma_block(
                                4 * mby + bi,
                                4 * mbx + bj,
                                _n13_lv16(sj, f, mb, blk),
                            )
                    add_chroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


def _p17_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-17 NAL units: PPS with weighted_pred_flag = 1; each P
    slice writes its pred_weight_table (flags + se(v) weights per the
    closed forms) before dec_ref_pic_marking."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n17_geom(i)
    n_mbs = mbs_w * mbs_h
    sj = _N17_SEED + i

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(2)
    sps.u(0, 1)
    sps.ue(mbs_w - 1); sps.ue(mbs_h - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(1); pps.ue(0)
    pps.u(1, 1)  # weighted_pred_flag = 1
    pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n17_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n17_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n17_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2):
        n_ref = 1 if f == 1 else 2
        wt = _n17_weights(i, n_ref)
        sl = _BitWriter()
        sl.ue(0); sl.ue(5); sl.ue(0)
        sl.u(f, 4); sl.u((2 * f) % 16, 4)
        if f == 1:
            sl.u(1, 1)  # override to a single reference
            sl.ue(0)
        else:
            sl.u(0, 1)
        sl.u(0, 1)  # ref_pic_list_modification_flag_l0
        # pred_weight_table (spec 7.3.3.2)
        sl.ue(wt["logy"])
        sl.ue(wt["logc"])
        for k in range(n_ref):
            if wt["lflag"][k]:
                sl.u(1, 1)
                sl.se(wt["wy"][k])
                sl.se(wt["oy"][k])
            else:
                sl.u(0, 1)
            if wt["cflag"][k]:
                sl.u(1, 1)
                sl.se(wt["wcb"][k])
                sl.se(wt["ocb"][k])
                sl.se(wt["wcr"][k])
                sl.se(wt["ocr"][k])
            else:
                sl.u(0, 1)
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
        sl.se(0)
        sl.ue(1)  # disable_deblocking_filter_idc

        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        cur_mb = [-1]
        st = _x_new_mvstate(
            mbs_w, mbs_h,
            lambda o: o == cur_mb[0] or done[o],
        )

        def ncof(arr, rr: int, cc_: int) -> int:
            def g(r_, c_):
                if (
                    r_ < 0 or c_ < 0
                    or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                ):
                    return -1
                return int(arr[r_, c_])

            na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
            if na >= 0 and nb >= 0:
                return (na + nb + 1) >> 1
            if na >= 0:
                return na
            if nb >= 0:
                return nb
            return 0

        def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
            if cc_ == 0:
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                return
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 0))
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 1))
            for p_ in range(2):
                for bk in range(4):
                    rr = 2 * mby + bk // 2
                    cx = 2 * mbx + bk % 2
                    if cc_ == 2:
                        n_c = ncof(ctc4[p_], rr, cx)
                        ctc4[p_, rr, cx] = _write_residual_4x4(
                            sl,
                            _n13_ac15(sj, f, mb, bk, 1 + p_),
                            n_c,
                            15,
                        )
                    else:
                        ctc4[p_, rr, cx] = 0

        skip_run = 0
        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            cur_mb[0] = mb
            kind = _n17_kind(i, f, mb, mbs_w)
            if kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                done[mb] = True
                skip_run += 1
                continue
            sl.ue(skip_run)
            skip_run = 0
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                sl.ue(5 + 1 + pm16 + 4 * cc_)
                sl.ue(cm)
                sl.se(0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                n_c = ncof(tc4, 4 * mby, 4 * mbx)
                _write_residual_4x4(sl, _n13_dc(sj, f, mb), n_c, 16)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                wchroma(mb, mbx, mby, cc_)
            else:
                units = (
                    [("16x16", 0, 0, 0, 16, 16, 0)]
                    if kind in (1, 4)
                    else [
                        ("16x8", 0, 0, 0, 16, 8, 0),
                        ("16x8", 1, 0, 8, 16, 8, 1),
                    ]
                )
                sl.ue(0 if kind in (1, 4) else 1)  # mb_type
                if n_ref > 1:
                    for _s, _p, _ox, _oy, _w, _h, unit in units:
                        sl.u(1 - _n17_ref(i, f, mb, unit), 1)
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    units
                ):
                    ridx = _n17_ref(i, f, mb, unit)
                    bx = 4 * mbx + ox // 4
                    by = 4 * mby + oy // 4
                    pmx, pmy = _x_mvp_part(
                        bx, by, pw // 4, ph // 4, shp, pidx, st,
                        cur_ref=ridx,
                    )
                    mvx, mvy = _n17_mv(i, f, mb, j)
                    sl.se(mvx - pmx)
                    sl.se(mvy - pmy)
                    _x_fill4(
                        st, bx, by, pw // 4, ph // 4, mvx, mvy, ridx
                    )
                cbp_luma, cbp_chroma = (
                    _n13_cbp(sj, f, mb) if kind in (1, 2) else (0, 0)
                )
                sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
                if cbp_luma or cbp_chroma:
                    sl.se(0)
                for blk in range(16):
                    bi, bj = _BLK4_POS[blk]
                    r4, c4 = 4 * mby + bi, 4 * mbx + bj
                    if cbp_luma & (1 << (blk // 4)):
                        n_c = ncof(tc4, r4, c4)
                        tc4[r4, c4] = _write_residual_4x4(
                            sl, _n13_lv16(sj, f, mb, blk), n_c, 16
                        )
                    else:
                        tc4[r4, c4] = 0
                wchroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        if skip_run:
            sl.ue(skip_run)
        sl.rbsp_trailing()
        pictures.append([nal(2, 1, sl)])
    return sps_nal, pps_nal, pictures


def encode_weighted_annexb(i: int) -> bytes:
    """The notch-17 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p17_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_weighted_media(
    spark: SparkSession, n: int = _N17_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_weighted_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_weighted_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 17): decode 12 Annex-B streams under
    EXPLICIT WEIGHTED PREDICTION — pred_weight_table parsing (logWD
    5..7 luma / 4..6 chroma, per-reference flags with spec defaults
    when unset), the spec-8.4.2.3.2 scaling on every
    motion-compensated partition AND P_Skip macroblock, per-plane
    chroma weights, large-offset clipping and a negative-weight
    (inverted-fade) reference — across two references chosen per
    partition. One exact statistics row per frame under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_weighted_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_h264_weighted(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-17 weighted-prediction corpus."""
    return _sql_p_corpus(
        _N17_CLIPS, _n17_geom, _n17_clip, "2",
        "(53 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(59 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(61 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "1", slice_col,
    )


# ---------------------------------------------------------------------
# Notch 18: ref_pic_list_modification — explicit RefPicList0
# reordering (spec 7.3.3.1 syntax + 8.2.4.3.1 process). P2 swaps its
# two references with one idc-0 modification; P3 rebuilds its list
# with an idc-0 + idc-1 chain through picNumLXPred — in both cases
# ref_idx 0 resolves to the OLDEST decoded picture, the exact
# opposite of the initial descending-PicNum order, so a decoder that
# ignored the modification cannot hash-match.
# ---------------------------------------------------------------------

_N18_CLIPS = 12
_N18_SEED = 320


def _n18_geom(i: int) -> tuple[int, int]:
    return 3 + i % 2, 2


def _n18_y0(i: int, r: int, c: int) -> int:
    return (67 * i + 5 * r + 3 * c + ((r * c) % 11)) % 256


def _n18_cb0(i: int, r: int, c: int) -> int:
    return (71 * i + 3 * r + 5 * c + ((r + 2 * c) % 7)) % 256


def _n18_cr0(i: int, r: int, c: int) -> int:
    return (73 * i + 2 * r + 7 * c + ((3 * r + c) % 5)) % 256


#: per-P-picture modification commands (idc, value): P2 one idc-0
#: swap; P3 an idc-0 + idc-1 chain. Both yield [oldest, second-oldest].
_N18_MODS = {1: [], 2: [(0, 1)], 3: [(0, 2), (1, 0)]}


def _n18_kind(i: int, f: int, mb: int, mbs_w: int) -> int:
    k = (i + 2 * f + 3 * mb) % 4
    mbx, mby = mb % mbs_w, mb // mbs_w
    if k == 3 and (mbx == 0 or mby == 0):
        return 1
    return k


def _n18_ref(i: int, f: int, mb: int, unit: int) -> int:
    return 0 if f < 2 else (i + f + mb + unit) % 2


def _n18_mv(i, f, mb, j) -> tuple[int, int]:
    qx = (i + mb + 2 * f + j) % 4
    qy = (2 * i + 3 * mb + f + 3 * j) % 4
    ix = ((i + 5 * mb + 7 * f + 3 * j) % 7) - 3
    iy = ((3 * i + 7 * mb + 5 * f + 2 * j) % 7) - 3
    if (i + mb + f) % 5 == 0:
        ix, iy = 8 * ix, 8 * iy
    return 4 * ix + qx, 4 * iy + qy


def _n18_clip(i: int):
    """Expected reconstruction via the explicit twins: the MODIFIED
    reference lists ([pic0] / [pic0, pic1] / [pic0, pic1]) replace
    the recency order the earlier notches used."""
    qp = _n13_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = _n18_geom(i)
    w, h = 16 * mbs_w, 16 * mbs_h
    sj = _N18_SEED + i
    y0p = np.array(
        [[_n18_y0(i, r, c) for c in range(w)] for r in range(h)],
        np.uint8,
    )
    cb0 = np.array(
        [
            [_n18_cb0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    cr0 = np.array(
        [
            [_n18_cr0(i, r, c) for c in range(w // 2)]
            for r in range(h // 2)
        ],
        np.uint8,
    )
    pics = [(y0p, cb0, cr0)]
    n_mbs = mbs_w * mbs_h
    for f in (1, 2, 3):
        # the REORDERED RefPicList0 (oldest first for f >= 2)
        refs = [pics[0]] if f == 1 else [pics[0], pics[1]]
        yp = np.zeros((h, w), np.uint8)
        cbp_ = np.zeros((h // 2, w // 2), np.uint8)
        crp_ = np.zeros((h // 2, w // 2), np.uint8)
        done = [False] * n_mbs
        st = _x_new_mvstate(mbs_w, mbs_h, lambda o: done[o])

        def mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx):
            ry, rcb, rcr = refs[ridx]
            pred = _x_mc_luma(
                ry, 16 * mbx + ox, 16 * mby + oy, pw, ph, mvx, mvy
            )
            for r in range(ph):
                for c in range(pw):
                    yp[
                        16 * mby + oy + r, 16 * mbx + ox + c
                    ] = pred[r][c]
            for plane, refp in ((cbp_, rcb), (crp_, rcr)):
                pc = _x_mc_chroma(
                    refp,
                    (16 * mbx + ox) // 2,
                    (16 * mby + oy) // 2,
                    pw // 2, ph // 2, mvx, mvy,
                )
                for r in range(ph // 2):
                    for c in range(pw // 2):
                        plane[
                            (16 * mby + oy) // 2 + r,
                            (16 * mbx + ox) // 2 + c,
                        ] = pc[r][c]

        def add_luma_block(r4, c4, lv):
            if not any(lv):
                return
            res = _x_itrans4(_x_dequant4(lv, qp))
            for rr in range(4):
                for cc in range(4):
                    v = int(yp[4 * r4 + rr, 4 * c4 + cc]) + res[rr][cc]
                    yp[4 * r4 + rr, 4 * c4 + cc] = _x_clip1(v)

        def add_chroma(mb, mbx, mby, cc_):
            if cc_ == 0:
                return
            for pi, plane in enumerate((cbp_, crp_)):
                dcs = _x_chroma_dcraw(_n13_cdc(sj, f, mb, pi), qpc)
                for bk in range(4):
                    by, bx = 4 * (bk // 2), 4 * (bk % 2)
                    oy, ox = 8 * mby + by, 8 * mbx + bx
                    if cc_ == 2:
                        res = _x_itrans4(
                            _x_dequant4(
                                _n13_ac15(sj, f, mb, bk, 1 + pi),
                                qpc,
                                dc=int(dcs[bk]),
                            )
                        )
                        for rr in range(4):
                            for ccc in range(4):
                                v = (
                                    int(plane[oy + rr, ox + ccc])
                                    + res[rr][ccc]
                                )
                                plane[oy + rr, ox + ccc] = _x_clip1(v)
                    else:
                        u = (int(dcs[bk]) + 32) >> 6
                        for rr in range(4):
                            for ccc in range(4):
                                v = int(plane[oy + rr, ox + ccc]) + u
                                plane[oy + rr, ox + ccc] = _x_clip1(v)

        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            kind = _n18_kind(i, f, mb, mbs_w)
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                at = mby > 0 and done[mb - mbs_w]
                al = mbx > 0 and done[mb - 1]
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                pred = _x_pred16(yp, mbx, mby, pm16, at, al)
                dcm = _x_luma_dcmat(_n13_dc(sj, f, mb), qp)
                for r in range(16):
                    for c in range(16):
                        v = pred[r][c] + (
                            (dcm[r // 4][c // 4] + 32) >> 6
                        )
                        yp[16 * mby + r, 16 * mbx + c] = _x_clip1(v)
                pcb = _x_predc8(cbp_, mbx, mby, cm, at, al)
                pcr = _x_predc8(crp_, mbx, mby, cm, at, al)
                for r in range(8):
                    for c in range(8):
                        cbp_[8 * mby + r, 8 * mbx + c] = pcb[r][c]
                        crp_[8 * mby + r, 8 * mbx + c] = pcr[r][c]
                add_chroma(mb, mbx, mby, cc_)
            elif kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                mc_into(0, 0, 16, 16, mvx, mvy, mbx, mby, 0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
            else:
                units = (
                    [("16x16", 0, 0, 0, 16, 16, 0)]
                    if kind == 1
                    else [
                        ("16x8", 0, 0, 0, 16, 8, 0),
                        ("16x8", 1, 0, 8, 16, 8, 1),
                    ]
                )
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    units
                ):
                    ridx = _n18_ref(i, f, mb, unit)
                    mvx, mvy = _n18_mv(i, f, mb, j)
                    mc_into(ox, oy, pw, ph, mvx, mvy, mbx, mby, ridx)
                    _x_fill4(
                        st,
                        4 * mbx + ox // 4, 4 * mby + oy // 4,
                        pw // 4, ph // 4, mvx, mvy, ridx,
                    )
                cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                for blk in range(16):
                    bi, bj = _BLK4_POS[blk]
                    if cbp_luma & (1 << (blk // 4)):
                        add_luma_block(
                            4 * mby + bi,
                            4 * mbx + bj,
                            _n13_lv16(sj, f, mb, blk),
                        )
                add_chroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        pics.append((yp, cbp_, crp_))
    return pics


def _p18_nals(i: int) -> tuple[bytes, bytes, list[list[bytes]]]:
    """Notch-18 NAL units: P2/P3 set ref_pic_list_modification_flag_l0
    and write the _N18_MODS command sequences (idc-0/idc-1 +
    abs_diff_pic_num_minus1, closed by idc 3)."""
    qp = _n13_qp(i)
    mbs_w, mbs_h = _n18_geom(i)
    n_mbs = mbs_w * mbs_h
    sj = _N18_SEED + i

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
    sps.ue(3)  # room for pic0 under sliding-window eviction
    sps.u(0, 1)
    sps.ue(mbs_w - 1); sps.ue(mbs_h - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(1); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return header + _escape_ebsp(w_.tobytes())

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        sl.ue(25)
        sl.align_zero()
        sl.raw_bytes(
            bytes(
                _n18_y0(i, 16 * mby + r, 16 * mbx + c)
                for r in range(16)
                for c in range(16)
            )
        )
        sl.raw_bytes(
            bytes(
                _n18_cb0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
        sl.raw_bytes(
            bytes(
                _n18_cr0(i, 8 * mby + r, 8 * mbx + c)
                for r in range(8)
                for c in range(8)
            )
        )
    sl.rbsp_trailing()
    sps_nal, pps_nal = nal(3, 7, sps), nal(3, 8, pps)
    pictures = [[nal(3, 5, sl)]]

    for f in (1, 2, 3):
        n_ref = 1 if f == 1 else 2
        sl = _BitWriter()
        sl.ue(0); sl.ue(5); sl.ue(0)
        sl.u(f % 16, 4); sl.u((2 * f) % 16, 4)
        if f == 1:
            sl.u(1, 1); sl.ue(0)  # override to one reference
        else:
            sl.u(0, 1)
        mods = _N18_MODS[f]
        if mods:
            sl.u(1, 1)  # ref_pic_list_modification_flag_l0
            for idc, val in mods:
                sl.ue(idc)
                sl.ue(val)
            sl.ue(3)  # end of modification commands
        else:
            sl.u(0, 1)
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
        sl.se(0)
        sl.ue(1)  # disable_deblocking_filter_idc

        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        done = [False] * n_mbs
        cur_mb = [-1]
        st = _x_new_mvstate(
            mbs_w, mbs_h,
            lambda o: o == cur_mb[0] or done[o],
        )

        def ncof(arr, rr: int, cc_: int) -> int:
            def g(r_, c_):
                if (
                    r_ < 0 or c_ < 0
                    or r_ >= arr.shape[0] or c_ >= arr.shape[1]
                ):
                    return -1
                return int(arr[r_, c_])

            na, nb = g(rr, cc_ - 1), g(rr - 1, cc_)
            if na >= 0 and nb >= 0:
                return (na + nb + 1) >> 1
            if na >= 0:
                return na
            if nb >= 0:
                return nb
            return 0

        def wchroma(mb: int, mbx: int, mby: int, cc_: int) -> None:
            if cc_ == 0:
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                return
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 0))
            _write_chroma_dc_block(sl, _n13_cdc(sj, f, mb, 1))
            for p_ in range(2):
                for bk in range(4):
                    rr = 2 * mby + bk // 2
                    cx = 2 * mbx + bk % 2
                    if cc_ == 2:
                        n_c = ncof(ctc4[p_], rr, cx)
                        ctc4[p_, rr, cx] = _write_residual_4x4(
                            sl,
                            _n13_ac15(sj, f, mb, bk, 1 + p_),
                            n_c,
                            15,
                        )
                    else:
                        ctc4[p_, rr, cx] = 0

        skip_run = 0
        for mb in range(n_mbs):
            mbx, mby = mb % mbs_w, mb // mbs_w
            cur_mb[0] = mb
            kind = _n18_kind(i, f, mb, mbs_w)
            if kind == 0:
                mvx, mvy = _x_skip_part(4 * mbx, 4 * mby, st)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, mvx, mvy, 0)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                ctc4[
                    :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                ] = 0
                done[mb] = True
                skip_run += 1
                continue
            sl.ue(skip_run)
            skip_run = 0
            if kind == 3:
                pm16, cm, cc_ = _n13_intra(sj, f, mb)
                sl.ue(5 + 1 + pm16 + 4 * cc_)
                sl.ue(cm)
                sl.se(0)
                _x_fill4(st, 4 * mbx, 4 * mby, 4, 4, 0, 0, -1)
                n_c = ncof(tc4, 4 * mby, 4 * mbx)
                _write_residual_4x4(sl, _n13_dc(sj, f, mb), n_c, 16)
                tc4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = 0
                wchroma(mb, mbx, mby, cc_)
            else:
                units = (
                    [("16x16", 0, 0, 0, 16, 16, 0)]
                    if kind == 1
                    else [
                        ("16x8", 0, 0, 0, 16, 8, 0),
                        ("16x8", 1, 0, 8, 16, 8, 1),
                    ]
                )
                sl.ue(0 if kind == 1 else 1)  # mb_type
                if n_ref > 1:
                    for _s, _p, _ox, _oy, _w, _h, unit in units:
                        sl.u(1 - _n18_ref(i, f, mb, unit), 1)
                for j, (shp, pidx, ox, oy, pw, ph, unit) in enumerate(
                    units
                ):
                    ridx = _n18_ref(i, f, mb, unit)
                    bx = 4 * mbx + ox // 4
                    by = 4 * mby + oy // 4
                    pmx, pmy = _x_mvp_part(
                        bx, by, pw // 4, ph // 4, shp, pidx, st,
                        cur_ref=ridx,
                    )
                    mvx, mvy = _n18_mv(i, f, mb, j)
                    sl.se(mvx - pmx)
                    sl.se(mvy - pmy)
                    _x_fill4(
                        st, bx, by, pw // 4, ph // 4, mvx, mvy, ridx
                    )
                cbp_luma, cbp_chroma = _n13_cbp(sj, f, mb)
                sl.ue(_CBP_INTER_INV[cbp_luma + 16 * cbp_chroma])
                if cbp_luma or cbp_chroma:
                    sl.se(0)
                for blk in range(16):
                    bi, bj = _BLK4_POS[blk]
                    r4, c4 = 4 * mby + bi, 4 * mbx + bj
                    if cbp_luma & (1 << (blk // 4)):
                        n_c = ncof(tc4, r4, c4)
                        tc4[r4, c4] = _write_residual_4x4(
                            sl, _n13_lv16(sj, f, mb, blk), n_c, 16
                        )
                    else:
                        tc4[r4, c4] = 0
                wchroma(mb, mbx, mby, cbp_chroma)
            done[mb] = True
        if skip_run:
            sl.ue(skip_run)
        sl.rbsp_trailing()
        pictures.append([nal(2, 1, sl)])
    return sps_nal, pps_nal, pictures


def encode_reorder_annexb(i: int) -> bytes:
    """The notch-18 clip as one Annex-B stream (the gate corpus)."""
    sps_nal, pps_nal, pictures = _p18_nals(i)
    flat = [sps_nal, pps_nal] + [n for pic in pictures for n in pic]
    return b"".join(b"\x00\x00\x00\x01" + n for n in flat)


def synthetic_h264_reorder_media(
    spark: SparkSession, n: int = _N18_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_reorder_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_reorder_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 18): decode 12 Annex-B streams whose P
    slices REORDER RefPicList0 — the spec-7.3.3.1 modification syntax
    (idc 0/1 + abs_diff_pic_num_minus1 chains closed by idc 3) and
    the spec-8.2.4.3.1 process (picNumLXPred chaining, insertion at
    the running refIdx, duplicate elision, truncation), placing the
    OLDEST picture at ref_idx 0 — the exact opposite of the initial
    descending-PicNum order, so ignoring the modification cannot
    hash-match. One exact statistics row per frame under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_reorder_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_h264_reorder(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the notch-18 list-modification corpus."""
    return _sql_p_corpus(
        _N18_CLIPS, _n18_geom, _n18_clip, "2",
        "(67 * media_id + 5 * {r} + 3 * {c} + (({r} * {c}) % 11)) "
        "% 256",
        "(71 * media_id + 3 * {r} + 5 * {c} + (({r} + 2 * {c}) % 7))"
        " % 256",
        "(73 * media_id + 2 * {r} + 7 * {c} + ((3 * {r} + {c}) % 5))"
        " % 256",
        "1", slice_col, p_frames=(1, 2, 3),
    )


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "h264_p_decode": (q_h264_p_decode, _LAZY_SQL["SQL_H264_P_DECODE"]),
    "h264_pparts_decode": (
        q_h264_pparts_decode,
        _LAZY_SQL["SQL_H264_PPARTS_DECODE"],
    ),
    "h264_p8x8_decode": (
        q_h264_p8x8_decode,
        _LAZY_SQL["SQL_H264_P8X8_DECODE"],
    ),
    "h264_multiref_decode": (
        q_h264_multiref_decode,
        _LAZY_SQL["SQL_H264_MULTIREF_DECODE"],
    ),
    "h264_weighted_decode": (
        q_h264_weighted_decode,
        _LAZY_SQL["SQL_H264_WEIGHTED_DECODE"],
    ),
    "h264_reorder_decode": (
        q_h264_reorder_decode,
        _LAZY_SQL["SQL_H264_REORDER_DECODE"],
    ),
}
