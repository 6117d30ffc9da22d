"""H.264/AVC baseline I-frame decoder — the from-scratch video-codec
ladder (round 8; see PLANS §26b).

The reference video path stops at container parsing + MJPEG
(operators/mp4.py); inter-frame codecs were the honest stub. This
module is a real (subset-)conformant H.264 baseline decoder built
notch by notch, each a strict superset of the last, each a registry
gate row hashed against a closed-form DuckDB oracle that never
decodes:

1. ``h264_ipcm_decode`` — Annex-B framing (3-/4-byte start codes),
   EBSP↔RBSP emulation-prevention, Exp-Golomb reader/writer, SPS/PPS
   parse, IDR slice headers, I_PCM macroblock reconstruction.
2. ``h264_intra_decode`` — Intra_16x16 V/H/DC prediction (spec
   8.3.3) + chroma prediction (8.3.4) from reconstructed neighbor
   edges; CAVLC coeff_token parse in the real spec-9.2.1 nC context.
3. ``h264_cavlc_decode`` — entropy-coded chroma-DC residuals: the
   nC = -1 coeff_token table, trailing-one signs, level_prefix/suffix
   decode, 2x2 total_zeros/run_before, 2x2 inverse Hadamard,
   Table-8-15 chroma-QP scaling, clipped reconstruction.
4. ``h264_lumadc_decode`` — dense (all-16-coefficient)
   Intra16x16DCLevel blocks: the 6-bit FLC coeff_token class, the
   complete level state machine (first-coefficient +2 rule, TC>10
   initial suffixLength, both growth steps), 4x4 inverse Hadamard,
   spec-8.5.10 two-branch luma-DC scaling.
5. ``h264_plane_decode`` — the COMPLETE prediction-mode matrix incl.
   spec-8.3.3.4 luma Plane and 8.3.4 chroma Plane integer-gradient
   fits over top+left+corner edges.
6. ``h264_gop_decode`` / ``h264_mp4_decode`` — multi-picture,
   multi-slice streams: first_mb_in_slice addressing,
   more_rbsp_data() end-of-slice detection, idr_pic_id alternation,
   slice-gated intra/nC availability; and the container integration
   (avcC record + AVCC access units out of ISO BMFF sample tables,
   operators/mp4.py).
7. ``h264_full_decode`` — the composition corpus: every feature above
   in one stream, proving they compose.
8. (round 9) ``h264_ac_decode`` — the complete CAVLC 4x4 residual
   layer: every Table 9-5 coeff_token class (VLC0/1/2, FLC, chroma
   nC = -1), Table 9-7 total_zeros, Table 9-10 run_before,
   spec-9.2.2.1 escape levels, Intra16x16ACLevel blocks under the
   scaled DC (8.5.8), the full chroma residual matrix (cbp_chroma
   0/1/2), spec-8.5.12 AC scaling + 4x4 inverse core transform.
9. (round 9) ``h264_i4x4_decode`` — Intra_4x4 macroblocks: per-block
   mode syntax with the sequential spec-8.3.1.1 most-probable-mode
   inference, ALL NINE spec-8.3.1.2 prediction modes with
   decode-order top-right availability/substitution, Table 9-4 me(v)
   coded_block_pattern, LumaLevel4x4 residuals in the real per-4x4
   CAVLC nC context.
10. (round 9) ``h264_ladder_decode`` — the REGENERATED composition
   corpus: GOP x multi-PPS x multi-slice x AC x I_4x4 in one stream,
   with row-2 predicted macroblocks decoding against a slice
   boundary (top edge gated away: left-only CAVLC nC,
   left-constrained prediction modes, chroma DC fallbacks).

11. (round 9) ``h264_p_decode`` — P-slice INTER prediction
   (operators/h264p.py): quarter-sample luma motion compensation
   (spec 8.4.2.2.1 6-tap half-pel filters, the center ``j`` through
   un-rounded intermediates, Table 8-12 quarter averages, Clip3
   edge-coordinate clamping), eighth-sample bilinear chroma
   (8.4.2.2.2), median motion-vector prediction with the
   neighbor-C -> D substitution and special cases (8.4.1.3), P_Skip
   motion derivation (8.4.1.1) via mb_skip_run, Table 9-4 INTER
   coded_block_pattern + inter 4x4 residuals, and intra-in-P
   macroblocks (Table 7-13 mb_type offset 5) predicting from
   inter-reconstructed neighbors — across a real I->P->P reference
   chain.

12. (round 9) ``h264_pparts_decode`` — notch 14: 16x8 / 8x16
   macroblock PARTITIONS across TWO-slice P pictures — per-partition
   mvd pairs, partition-granular neighbor state (spec 6.4.11.7), the
   directional MVP shortcuts (8.4.1.3: 16x8 top takes B, bottom
   takes A; 8x16 left takes A, right takes C), slice-gated predictor
   derivation, partition-sized quarter-pel motion compensation.
   Also ``h264_mp4_p_decode`` — the notch-13 corpus as AVC-in-MP4
   through the SEQUENTIAL track decoder (operators/mp4.py
   ``decode_avc_track``: inter prediction breaks per-sample
   isolation, so the sample list decodes as one stateful stream).
13. (round 9) ``h264_p8x8_decode`` — notch 15: P_8x8 / P_8x8ref0
   SUB-macroblock partitions — per-8x8 sub_mb_type (all four Table
   7-17 shapes, mixed within one MB), per-sub-partition mvd pairs,
   median MVP at sub-partition granularity (C -> D substitution
   against not-yet-decoded same-MB blocks), 8x4 / 4x8 / 4x4
   quarter-pel MC with 2x2-tier chroma — the P-slice partition tree
   COMPLETE.
14. (round 9) ``h264_multiref_decode`` — notch 16: MULTIPLE
   reference frames — a real DPB (decoded reference pictures,
   RefPicList0 in PicNum order), te(v) ref_idx_l0 per partition /
   per 8x8 block (absent for P_8x8ref0), the
   num_ref_idx_active_override path, and refIdx-aware MV prediction
   (different-reference neighbors feed the median but are excluded
   from the exactly-one rule and the directional shortcuts).
15. (round 9) ``h264_weighted_decode`` — notch 17: EXPLICIT WEIGHTED
   prediction — pred_weight_table parsing (7.3.3.2: logWD, per-ref
   luma/chroma flags with 1<<logWD defaults), the spec-8.4.2.3.2
   scaling Clip1(((pred*w + 2^(logWD-1)) >> logWD) + o) on every MC
   partition and P_Skip macroblock, per-plane chroma weights,
   large-offset clipping, a negative-weight (inverted-fade)
   reference.
16. (round 9) ``h264_reorder_decode`` — notch 18:
   ref_pic_list_modification — the spec-7.3.3.1 command syntax and
   the spec-8.2.4.3.1 reordering process (FrameNumWrap ordering,
   picNumLXPred chaining, insertion at the running refIdx with
   duplicate elision and truncation); IDR pictures flush the DPB.

With notches 10/11 the decoder accepts the full baseline I-frame
toolbox (I_PCM + I_16x16 + I_4x4, any CAVLC residual, incl. the
level_prefix >= 16 extended escape range of the 2005+ spec
editions); notches 13-18 add P slices with the COMPLETE partition
tree (P_L0_16x16, 16x8/8x16, P_8x8/P_8x8ref0 with every
sub-partition shape, P_Skip, intra-in-P), multiple reference frames,
explicit weighted prediction, and reference-list modification —
every P-slice tool of the baseline/main CAVLC toolbox except
long-term references. Honest boundaries that remain: long-term /
adaptive (MMCO) reference marking, B slices, CABAC,
transform_size_8x8 / high profiles, interlace, FMO.

Scale posture: identical to every codec in this engine — one narrow
Arrow ``mapInPandas`` stage per payload; bytes never leave the
executor; output is a fixed handful of integer statistics per frame.

Cross-engine checkability: every fixture's PCM samples are
closed-form functions of (seed, plane, write-index), predicted MBs
always have PCM neighbors, and residual levels come from independent
closed forms — so the DuckDB oracle recomputes expected plane sums
AND an order-sensitive checksum (Σ (k+1)·sample mod 1e9+7) by pure
integer arithmetic; hash equality proves the decoder recovered every
sample in the right spatial position through the real parse path,
with emulation-prevention escapes genuinely exercised.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "encode_ipcm_annexb",
    "encode_mixed_annexb",
    "encode_gop_annexb",
    "encode_full_annexb",
    "encode_ac_annexb",
    "decode_h264_iframe",
    "decode_h264_stream",
    "decode_h264_stream_info",
    "h264_frame_stats",
    "h264_gop_stats",
    "q_h264_ipcm_decode",
    "q_h264_intra_decode",
    "q_h264_cavlc_decode",
    "q_h264_lumadc_decode",
    "q_h264_plane_decode",
    "q_h264_gop_decode",
    "q_h264_full_decode",
    "q_h264_ac_decode",
    "q_h264_i4x4_decode",
    "q_h264_ladder_decode",
    "encode_ladder_annexb",
]

_CK_MOD = 1_000_000_007


# ---------------------------------------------------------------------
# bit-level I/O
# ---------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self._bits.append((val >> i) & 1)

    def ue(self, v: int) -> None:
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align_zero(self) -> None:
        while len(self._bits) % 8:
            self._bits.append(0)

    def raw_bytes(self, data: bytes) -> None:
        assert len(self._bits) % 8 == 0, "raw bytes must be byte-aligned"
        for b in data:
            self.u(b, 8)

    def rbsp_trailing(self) -> None:
        self._bits.append(1)
        self.align_zero()

    def tobytes(self) -> bytes:
        assert len(self._bits) % 8 == 0
        out = bytearray()
        for i in range(0, len(self._bits), 8):
            byte = 0
            for b in self._bits[i : i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
        return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._d = data
        self._pos = 0  # bit position

    def u(self, n: int) -> int:
        out = 0
        for _ in range(n):
            idx = self._pos >> 3
            if idx >= len(self._d):
                raise ValueError(
                    "truncated RBSP: bitstream ended mid-syntax-element"
                )
            byte = self._d[idx]
            out = (out << 1) | ((byte >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return out

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("malformed Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def byte_align(self) -> None:
        while self._pos & 7:
            if self.u(1) != 0:
                raise ValueError("nonzero pcm_alignment bit")

    def raw_bytes(self, n: int) -> bytes:
        assert (self._pos & 7) == 0
        start = self._pos >> 3
        self._pos += 8 * n
        out = self._d[start : start + n]
        if len(out) != n:
            raise ValueError("truncated PCM payload")
        return out


# ---------------------------------------------------------------------
# EBSP escapes + Annex-B framing
# ---------------------------------------------------------------------


def _frame_ck(y: np.ndarray, mbs_w: int, mbs_h: int) -> int:
    """The cross-engine luma checksum: samples flattened in
    (macroblock raster, within-MB raster) order, Σ (k+1)·sample
    mod 1e9+7 — ONE definition shared by every stats path so the
    engines can never drift. Vectorized: terms stay far below 2^63
    for any conformant frame size."""
    blocks = (
        y.reshape(mbs_h, 16, mbs_w, 16)
        .transpose(0, 2, 1, 3)
        .reshape(-1)
        .astype(np.int64)
    )
    ks = np.arange(1, blocks.size + 1, dtype=np.int64)
    return int((ks * blocks).sum() % _CK_MOD)


def _escape_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation-prevention 0x03 after any 00 00 preceding a
    byte <= 0x03 (spec 7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _unescape_ebsp(ebsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue  # drop the escape byte
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def _split_annexb(data: bytes) -> list[bytes]:
    """NAL units between 00 00 01 / 00 00 00 01 start codes."""
    nals = []
    i = 0
    n = len(data)
    start = None
    while i + 2 < n:
        if data[i] == 0 and data[i + 1] == 0 and data[i + 2] == 1:
            if start is not None:
                end = i
                while end > start and data[end - 1] == 0:
                    end -= 1
                nals.append(data[start:end])
            i += 3
            start = i
        else:
            i += 1
    if start is not None:
        nals.append(data[start:])
    if not nals:
        raise ValueError("no Annex-B start codes found")
    return nals


# ---------------------------------------------------------------------
# fixture encoder (real conformant bytes for the I_PCM subset)
# ---------------------------------------------------------------------


def encode_ipcm_annexb(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray
) -> bytes:
    """Annex-B H.264 baseline stream: SPS + PPS + one IDR slice whose
    macroblocks are all I_PCM (4:2:0, 8-bit). ``y`` is (H, W) with
    W, H multiples of 16; ``cb``/``cr`` are (H/2, W/2)."""
    h, w = y.shape
    if w % 16 or h % 16:
        raise ValueError("I_PCM fixture needs multiple-of-16 dims")
    mbs_w, mbs_h = w // 16, h // 16

    sps = _BitWriter()
    sps.u(66, 8)  # profile_idc: baseline
    sps.u(0, 8)  # constraint flags + reserved
    sps.u(10, 8)  # level_idc
    sps.ue(0)  # seq_parameter_set_id
    sps.ue(0)  # log2_max_frame_num_minus4
    sps.ue(0)  # pic_order_cnt_type
    sps.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    sps.ue(0)  # max_num_ref_frames
    sps.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    sps.ue(mbs_w - 1)  # pic_width_in_mbs_minus1
    sps.ue(mbs_h - 1)  # pic_height_in_map_units_minus1
    sps.u(1, 1)  # frame_mbs_only_flag
    sps.u(0, 1)  # direct_8x8_inference_flag
    sps.u(0, 1)  # frame_cropping_flag
    sps.u(0, 1)  # vui_parameters_present_flag
    sps.rbsp_trailing()

    pps = _BitWriter()
    pps.ue(0)  # pic_parameter_set_id
    pps.ue(0)  # seq_parameter_set_id
    pps.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    pps.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    pps.ue(0)  # num_slice_groups_minus1
    pps.ue(0)  # num_ref_idx_l0_default_active_minus1
    pps.ue(0)  # num_ref_idx_l1_default_active_minus1
    pps.u(0, 1)  # weighted_pred_flag
    pps.u(0, 2)  # weighted_bipred_idc
    pps.se(0)  # pic_init_qp_minus26
    pps.se(0)  # pic_init_qs_minus26
    pps.se(0)  # chroma_qp_index_offset
    pps.u(1, 1)  # deblocking_filter_control_present_flag
    pps.u(0, 1)  # constrained_intra_pred_flag
    pps.u(0, 1)  # redundant_pic_cnt_present_flag
    pps.rbsp_trailing()

    sl = _BitWriter()
    sl.ue(0)  # first_mb_in_slice
    sl.ue(7)  # slice_type: I (all slices in picture)
    sl.ue(0)  # pic_parameter_set_id
    sl.u(0, 4)  # frame_num (log2_max_frame_num = 4)
    sl.ue(0)  # idr_pic_id
    sl.u(0, 4)  # pic_order_cnt_lsb
    sl.u(0, 1)  # no_output_of_prior_pics_flag
    sl.u(0, 1)  # long_term_reference_flag
    sl.se(0)  # slice_qp_delta
    sl.ue(1)  # disable_deblocking_filter_idc: no in-loop filter
    for mby in range(mbs_h):
        for mbx in range(mbs_w):
            sl.ue(25)  # mb_type: I_PCM
            sl.align_zero()  # pcm_alignment_zero_bit
            yb = y[mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16]
            cbb = cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
            crb = cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
            sl.raw_bytes(yb.astype(np.uint8).tobytes())
            sl.raw_bytes(cbb.astype(np.uint8).tobytes())
            sl.raw_bytes(crb.astype(np.uint8).tobytes())
    sl.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return b"\x00\x00\x00\x01" + header + _escape_ebsp(w_.tobytes())

    return nal(3, 7, sps) + nal(3, 8, pps) + nal(3, 5, sl)


# ---------------------------------------------------------------------
# decoder (I_PCM subset of baseline; CAVLC residual MBs raise)
# ---------------------------------------------------------------------


def _parse_sps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise NotImplementedError(
            f"high-profile SPS (profile_idc {profile_idc}) not supported"
        )
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        raise NotImplementedError("pic_order_cnt_type 1 not supported")
    else:
        log2_max_poc_lsb = 0
    max_num_ref = r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    mbs_w = r.ue() + 1
    mbs_h = r.ue() + 1
    if mbs_w > 1024 or mbs_h > 1024:
        # spec Table A-1 caps PicWidthInMbs at 543 even at level 6.2;
        # a corrupt SPS must raise, not drive a multi-GB allocation
        raise ValueError(
            f"SPS dimensions {mbs_w}x{mbs_h} MBs exceed any "
            "conformant level (corrupt stream?)"
        )
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError("interlaced streams not supported")
    r.u(1)  # direct_8x8_inference_flag
    if r.u(1):  # frame_cropping_flag
        raise NotImplementedError("frame cropping not supported")
    r.u(1)  # vui_parameters_present_flag (ignored)
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "mbs_w": mbs_w,
        "mbs_h": mbs_h,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "max_num_ref": max_num_ref,
    }


def _parse_pps(rbsp: bytes) -> dict:
    r = _BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    entropy_cabac = r.u(1)
    if entropy_cabac:
        raise NotImplementedError("CABAC entropy coding not supported")
    r.u(1)  # bottom_field_pic_order_in_frame_present_flag
    if r.ue() != 0:  # num_slice_groups_minus1
        raise NotImplementedError("slice groups (FMO) not supported")
    num_ref_l0 = r.ue() + 1  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    weighted_pred = r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    init_qp = r.se() + 26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    deblocking_control = r.u(1)  # deblocking_filter_control_present_flag
    constrained_intra = r.u(1)  # constrained_intra_pred_flag
    r.u(1)  # redundant_pic_cnt_present_flag
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "init_qp": init_qp,
        "num_ref_l0": num_ref_l0,
        "weighted_pred": weighted_pred,
        "constrained_intra": constrained_intra,
        "deblocking_control": deblocking_control,
    }


# chroma QP mapping (spec Table 8-15) for qPi >= 30; below 30 QPc = qPi
_QPC_TABLE = {
    30: 29, 31: 30, 32: 31, 33: 32, 34: 32, 35: 33, 36: 34, 37: 34,
    38: 35, 39: 35, 40: 36, 41: 36, 42: 37, 43: 37, 44: 37, 45: 38,
    46: 38, 47: 38, 48: 39, 49: 39, 50: 39, 51: 39,
}

#: LevelScale4x4 position-(0,0) values by QP % 6 (spec Table 8-13 v row)
_LS00 = [10, 11, 13, 14, 16, 18]

#: chroma-DC coeff_token (nC == -1) prefix codes we can prove from the
#: fixture corpus; TotalCoeff >= 3 rows raise (not yet needed)
#: Table 9-5, nC == -1 (chroma DC) column — complete: all 14
#: (TrailingOnes, TotalCoeff) symbols; prefix-free with Kraft sum 1
#: (pinned by tests/test_h264_ac.py)
_CHROMA_DC_TOKENS = {
    "01": (0, 0),
    "1": (1, 1),
    "000111": (0, 1),
    "001": (2, 2),
    "000100": (0, 2),
    "000110": (1, 2),
    "000011": (0, 3),
    "0000011": (1, 3),
    "0000010": (2, 3),
    "000101": (3, 3),
    "000010": (0, 4),
    "00000011": (1, 4),
    "00000010": (2, 4),
    "0000000": (3, 4),
}

_TOTAL_ZEROS_2X2 = {
    1: {"1": 0, "01": 1, "001": 2, "000": 3},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"1": 0, "0": 1},
}

_RUN_BEFORE = {
    1: {"1": 0, "0": 1},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"11": 0, "10": 1, "01": 2, "00": 3},
}


def _read_vlc(r: _BitReader, table: dict, what: str, max_bits: int = 8):
    code = ""
    for _ in range(max_bits):
        code += str(r.u(1))
        if code in table:
            return table[code]
    raise NotImplementedError(f"{what} code {code!r} not in table")


def _read_levels(r: _BitReader, tc: int, t1s: int) -> list[int]:
    """CAVLC level decode shared by every residual block class:
    trailing-one sign bits, then level_prefix/suffix with the
    first-coefficient +2 rule (only when TrailingOnes < 3), the
    TotalCoeff > 10 initial suffixLength rule, and the spec's
    suffix-length growth schedule (spec 9.2.2.1). Returns the signed
    levels in decode order (highest scan position first)."""
    levels: list[int] = []
    for _ in range(t1s):
        levels.append(-1 if r.u(1) else 1)
    suffix_len = 1 if (tc > 10 and t1s < 3) else 0
    for i in range(t1s, tc):
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 40:
                raise ValueError(
                    "level_prefix > 40: malformed stream (levels this "
                    "large cannot arise from any conformant residual)"
                )
        # spec 9.2.2.1 escape sizes: prefix 14 at suffixLength 0
        # carries a 4-bit suffix; prefix 15 carries 12 bits; prefix
        # >= 16 (the 2005+ extended range) carries prefix - 3 bits
        # with the (1 << (prefix - 3)) - 4096 offset
        if prefix == 14 and suffix_len == 0:
            level_code = 14 + r.u(4)
        elif prefix >= 16:
            level_code = (15 << suffix_len) + r.u(prefix - 3)
            if suffix_len == 0:
                level_code += 15
            level_code += (1 << (prefix - 3)) - 4096
        elif prefix == 15:
            level_code = (15 << suffix_len) + r.u(12)
            if suffix_len == 0:
                level_code += 15
        else:
            level_code = prefix << suffix_len
            if suffix_len:
                level_code += r.u(suffix_len)
        if i == t1s and t1s < 3:
            level_code += 2
        level = (
            (level_code + 2) >> 1
            if level_code % 2 == 0
            else -((level_code + 1) >> 1)
        )
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    return levels


def _write_level_escape(w_: _BitWriter, esc: int) -> None:
    """Escape-coded level remainder (spec 9.2.2.1): prefix 15 + 12
    bits while it fits, else the smallest prefix p >= 16 whose
    (p - 3)-bit suffix + (1 << (p - 3)) - 4096 offset covers it —
    the 2005+ extended escape range (the offsets make consecutive
    prefixes cover contiguous, non-overlapping level_code bands)."""
    if esc < 4096:
        w_.u(0, 15)
        w_.u(1, 1)
        w_.u(esc, 12)
        return
    v = esc + 4096  # >= 8192, so p3 >= 13 and prefix >= 16
    p3 = v.bit_length() - 1
    w_.u(0, p3 + 3)
    w_.u(1, 1)
    w_.u(v - (1 << p3), p3)


def _write_levels(w_: _BitWriter, levels: list[int], tc: int, t1s: int) -> None:
    """Bit-exact inverse of ``_read_levels`` (the fixture encoder's
    half of the CAVLC round trip), incl. the spec-9.2.2.1 escape
    forms (prefix 14 + 4-bit suffix at suffixLength 0; prefix 15 +
    12-bit suffix; the prefix >= 16 extended range)."""
    for k in range(t1s):
        w_.u(0 if levels[k] > 0 else 1, 1)
    suffix_len = 1 if (tc > 10 and t1s < 3) else 0
    for i in range(t1s, tc):
        lvl = levels[i]
        level_code = 2 * lvl - 2 if lvl > 0 else -2 * lvl - 1
        if i == t1s and t1s < 3:
            level_code -= 2
        if suffix_len == 0:
            if level_code < 14:
                w_.u(0, level_code)
                w_.u(1, 1)
            elif level_code < 30:
                w_.u(0, 14)
                w_.u(1, 1)
                w_.u(level_code - 14, 4)
            else:
                _write_level_escape(w_, level_code - 30)
        else:
            prefix = level_code >> suffix_len
            if prefix < 15:
                w_.u(0, prefix)
                w_.u(1, 1)
                w_.u(level_code & ((1 << suffix_len) - 1), suffix_len)
            else:
                _write_level_escape(w_, level_code - (15 << suffix_len))
        if suffix_len == 0:
            suffix_len = 1
        if abs(lvl) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1


def _parse_cavlc_chroma_dc(r: _BitReader) -> list[int]:
    """CAVLC residual_block for one 2x2 chroma DC block (nC = -1):
    coeff_token, trailing-one signs, level_prefix/suffix decode with
    the first-coefficient +2 rule, total_zeros (2x2 tables) and
    run_before. Returns the 4 coefficients in 2x2 raster order."""
    t1s, tc = _read_vlc(r, _CHROMA_DC_TOKENS, "chroma-DC coeff_token")
    if tc == 0:
        return [0, 0, 0, 0]
    levels = _read_levels(r, tc, t1s)
    if tc < 4:
        tz = _read_vlc(r, _TOTAL_ZEROS_2X2[tc], "2x2 total_zeros")
    else:
        tz = 0
    coeffs = [0, 0, 0, 0]
    zeros_left = tz
    pos = tc + tz - 1
    for idx, lvl in enumerate(levels):
        coeffs[pos] = lvl
        if idx == tc - 1:
            break
        run = (
            _read_vlc(r, _RUN_BEFORE[min(zeros_left, 3)], "run_before")
            if zeros_left > 0
            else 0
        )
        zeros_left -= run
        pos -= 1 + run
    return coeffs


def _chroma_dc_residuals(coeffs: list[int], qpc: int) -> list[int]:
    """2x2 inverse Hadamard + chroma-DC scaling (spec 8.5.11), then
    the per-4x4 uniform residual of a DC-only block ((dc + 32) >> 6).
    Returns 4 residual values in block raster order
    [(0,0), (4,0), (0,4), (4,4)]."""
    c00, c01, c10, c11 = coeffs
    f = [
        c00 + c01 + c10 + c11,
        c00 - c01 + c10 - c11,
        c00 + c01 - c10 - c11,
        c00 - c01 - c10 + c11,
    ]
    ls = _LS00[qpc % 6]
    out = []
    for fv in f:
        dc = (fv * ls << (qpc // 6)) >> 5
        out.append((dc + 32) >> 6)
    return out


def _qpc_of(qpy: int, offset: int = 0) -> int:
    qpi = max(0, min(51, qpy + offset))
    return qpi if qpi < 30 else _QPC_TABLE[qpi]


#: 4x4 zig-zag scan (spec figure 8-8): scan position -> (row, col)
_ZZ4 = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3),
]

#: the symmetric 4x4 Hadamard of the luma-DC inverse transform
#: (spec 8.5.10, equation 8-308)
_H4 = np.array(
    [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
    np.int64,
)


def _parse_cavlc_luma_dc(r: _BitReader, n_c: int) -> list[int]:
    """CAVLC residual_block for the 4x4 Intra16x16DCLevel block —
    since round 9 a thin alias of the complete ``_parse_residual_4x4``
    (every Table 9-5 sub-table, Table 9-7 total_zeros, Table 9-10
    run_before, escape levels). Returns 16 coefficients in zig-zag
    scan order."""
    return _parse_residual_4x4(r, n_c, 16)


def _luma_dc_scaled(zz_coeffs: list[int], qpy: int) -> np.ndarray:
    """4x4 inverse Hadamard + luma-DC scaling (spec 8.5.10): returns
    the raw dcY values, a 4x4 int array indexed by (block row, block
    col) within the macroblock. For a DC-only block the per-block
    residual is the uniform (dcY + 32) >> 6; with AC coefficients
    present (cbp_luma = 15) each dcY lands at d[0][0] of its block's
    4x4 inverse core transform (spec 8.5.8)."""
    c = np.zeros((4, 4), np.int64)
    for k, (i_, j_) in enumerate(_ZZ4):
        c[i_, j_] = zz_coeffs[k]
    f = _H4 @ c @ _H4
    ls = _LS00[qpy % 6]
    if qpy >= 36:
        dc = (f * ls) << (qpy // 6 - 6)
    else:
        dc = (f * ls + (1 << (5 - qpy // 6))) >> (6 - qpy // 6)
    return dc


def _luma_dc_residuals(zz_coeffs: list[int], qpy: int) -> np.ndarray:
    """Per-4x4-block uniform residual of a DC-only I_16x16 macroblock:
    (dcY + 32) >> 6 over the spec-8.5.10 scaled DC matrix."""
    return (_luma_dc_scaled(zz_coeffs, qpy) + 32) >> 6


# ---------------------------------------------------------------------
# 4x4 residual entropy + transform layer (round 9, notch 10/11):
# the complete CAVLC residual_block syntax (Table 9-5 coeff_token for
# every nC class, Table 9-7 4x4 total_zeros, Table 9-10 run_before,
# spec-9.2.2.1 escape levels) and the spec-8.5.12 AC scaling + 4x4
# inverse core transform.
#
# The VLC tables below are transcribed from the published spec tables
# (ITU-T H.264 Tables 9-5 / 9-7 / 9-10). Transcription is guarded by
# structural tests (tests/test_h264_ac.py): every sub-table must be
# prefix-free, cover exactly its symbol set, and agree with the
# zero-token codes the earlier notches already pinned ('1', '11',
# '1111'); encoder/decoder share the tables, so fixtures round-trip
# every symbol class they exercise.
# ---------------------------------------------------------------------


def _ct(spec: str) -> dict:
    """Parse 'code:t1s,tc' whitespace-separated entries into the
    _read_vlc dict form code -> (t1s, tc)."""
    out = {}
    for ent in spec.split():
        code, pair = ent.split(":")
        t1s, tc = pair.split(",")
        out[code] = (int(t1s), int(tc))
    return out


#: Table 9-5, 0 <= nC < 2
_COEFF_TOKEN_VLC0 = _ct("""
1:0,0
000101:0,1 01:1,1
00000111:0,2 000100:1,2 001:2,2
000000111:0,3 00000110:1,3 0000101:2,3 00011:3,3
0000000111:0,4 000000110:1,4 00000101:2,4 000011:3,4
00000000111:0,5 0000000110:1,5 000000101:2,5 0000100:3,5
0000000001111:0,6 00000000110:1,6 0000000101:2,6 00000100:3,6
0000000001011:0,7 0000000001110:1,7 00000000101:2,7 000000100:3,7
0000000001000:0,8 0000000001010:1,8 0000000001101:2,8 0000000100:3,8
00000000001111:0,9 00000000001110:1,9 0000000001001:2,9 00000000100:3,9
00000000001011:0,10 00000000001010:1,10 00000000001101:2,10 0000000001100:3,10
000000000001111:0,11 000000000001110:1,11 00000000001001:2,11 00000000001100:3,11
000000000001011:0,12 000000000001010:1,12 000000000001101:2,12 00000000001000:3,12
0000000000001111:0,13 000000000000001:1,13 000000000001001:2,13 000000000001100:3,13
0000000000001011:0,14 0000000000001110:1,14 0000000000001101:2,14 000000000001000:3,14
0000000000000111:0,15 0000000000001010:1,15 0000000000001001:2,15 0000000000001100:3,15
0000000000000100:0,16 0000000000000110:1,16 0000000000000101:2,16 0000000000001000:3,16
""")

#: Table 9-5, 2 <= nC < 4
_COEFF_TOKEN_VLC1 = _ct("""
11:0,0
001011:0,1 10:1,1
000111:0,2 00111:1,2 011:2,2
0000111:0,3 001010:1,3 001001:2,3 0101:3,3
00000111:0,4 000110:1,4 000101:2,4 0100:3,4
00000100:0,5 0000110:1,5 0000101:2,5 00110:3,5
000000111:0,6 00000110:1,6 00000101:2,6 001000:3,6
00000001111:0,7 000000110:1,7 000000101:2,7 000100:3,7
00000001011:0,8 00000001110:1,8 00000001101:2,8 0000100:3,8
000000001111:0,9 00000001010:1,9 00000001001:2,9 000000100:3,9
000000001011:0,10 000000001110:1,10 000000001101:2,10 00000001100:3,10
000000001000:0,11 000000001010:1,11 000000001001:2,11 00000001000:3,11
0000000001111:0,12 0000000001110:1,12 0000000001101:2,12 000000001100:3,12
0000000001011:0,13 0000000001010:1,13 0000000001001:2,13 0000000001100:3,13
0000000000111:0,14 00000000001011:1,14 0000000000110:2,14 0000000001000:3,14
00000000001001:0,15 00000000001000:1,15 00000000001010:2,15 0000000000001:3,15
00000000000111:0,16 00000000000110:1,16 00000000000101:2,16 00000000000100:3,16
""")

#: Table 9-5, 4 <= nC < 8
_COEFF_TOKEN_VLC2 = _ct("""
1111:0,0
001111:0,1 1110:1,1
001011:0,2 01111:1,2 1101:2,2
001000:0,3 01100:1,3 01110:2,3 1100:3,3
0001111:0,4 01010:1,4 01011:2,4 1011:3,4
0001011:0,5 01000:1,5 01001:2,5 1010:3,5
0001001:0,6 001110:1,6 001101:2,6 1001:3,6
0001000:0,7 001010:1,7 001001:2,7 1000:3,7
00001111:0,8 0001110:1,8 0001101:2,8 01101:3,8
00001011:0,9 00001110:1,9 0001010:2,9 001100:3,9
000001111:0,10 00001010:1,10 00001101:2,10 0001100:3,10
000001011:0,11 000001110:1,11 00001001:2,11 00001100:3,11
000001000:0,12 000001010:1,12 000001101:2,12 00001000:3,12
0000001101:0,13 000000111:1,13 000001001:2,13 000001100:3,13
0000001001:0,14 0000001100:1,14 0000001011:2,14 0000001010:3,14
0000000101:0,15 0000001000:1,15 0000000111:2,15 0000000110:3,15
0000000001:0,16 0000000100:1,16 0000000011:2,16 0000000010:3,16
""")


def _tz(spec: str) -> dict:
    out = {}
    for ent in spec.split():
        code, v = ent.split(":")
        out[code] = int(v)
    return out


#: Table 9-7/9-8: total_zeros for 4x4 blocks, keyed by TotalCoeff
#: (tzVlcIndex) 1..15; values 0..(maxNumCoeff - TotalCoeff)
_TOTAL_ZEROS_4X4 = {
    1: _tz("""1:0 011:1 010:2 0011:3 0010:4 00011:5 00010:6 000011:7
              000010:8 0000011:9 0000010:10 00000011:11 00000010:12
              000000011:13 000000010:14 000000001:15"""),
    2: _tz("""111:0 110:1 101:2 100:3 011:4 0101:5 0100:6 0011:7
              0010:8 00011:9 00010:10 000011:11 000010:12 000001:13
              000000:14"""),
    3: _tz("""0101:0 111:1 110:2 101:3 0100:4 0011:5 100:6 011:7
              0010:8 00011:9 00010:10 000001:11 00001:12 000000:13"""),
    4: _tz("""00011:0 111:1 0101:2 0100:3 110:4 101:5 100:6 0011:7
              011:8 0010:9 00010:10 00001:11 00000:12"""),
    5: _tz("""0101:0 0100:1 0011:2 111:3 110:4 101:5 100:6 011:7
              0010:8 00001:9 0001:10 00000:11"""),
    6: _tz("""000001:0 00001:1 111:2 110:3 101:4 100:5 011:6 010:7
              0001:8 001:9 000000:10"""),
    7: _tz("""000001:0 00001:1 101:2 100:3 011:4 11:5 010:6 0001:7
              001:8 000000:9"""),
    8: _tz("""000001:0 0001:1 00001:2 011:3 11:4 10:5 010:6 001:7
              000000:8"""),
    9: _tz("""000001:0 000000:1 0001:2 11:3 10:4 001:5 01:6
              00001:7"""),
    10: _tz("00001:0 00000:1 001:2 11:3 10:4 01:5 0001:6"),
    11: _tz("0000:0 0001:1 001:2 010:3 1:4 011:5"),
    12: _tz("0000:0 0001:1 01:2 1:3 001:4"),
    13: _tz("000:0 001:1 1:2 01:3"),
    14: _tz("00:0 01:1 1:2"),
    15: _tz("0:0 1:1"),
}

#: Table 9-10 run_before, keyed by min(zerosLeft, 7); 7 = the > 6 row
_RUN_BEFORE_FULL = {
    1: _tz("1:0 0:1"),
    2: _tz("1:0 01:1 00:2"),
    3: _tz("11:0 10:1 01:2 00:3"),
    4: _tz("11:0 10:1 01:2 001:3 000:4"),
    5: _tz("11:0 10:1 011:2 010:3 001:4 000:5"),
    6: _tz("11:0 000:1 001:2 011:3 010:4 101:5 100:6"),
    7: _tz("""111:0 110:1 101:2 100:3 011:4 010:5 001:6 0001:7
              00001:8 000001:9 0000001:10 00000001:11 000000001:12
              0000000001:13 00000000001:14"""),
}


def _coeff_token_table(n_c: int) -> dict:
    if n_c < 2:
        return _COEFF_TOKEN_VLC0
    if n_c < 4:
        return _COEFF_TOKEN_VLC1
    return _COEFF_TOKEN_VLC2


def _inv(table: dict) -> dict:
    return {v: k for k, v in table.items()}


#: encoder-side inverse tables, built ONCE (the _CBP_INTRA_INV
#: discipline) — the writers run per residual block, and rebuilding
#: a ~65-entry inversion per block dominated encode cost
_COEFF_TOKEN_INV = [
    _inv(_COEFF_TOKEN_VLC0),
    _inv(_COEFF_TOKEN_VLC1),
    _inv(_COEFF_TOKEN_VLC2),
]
_TOTAL_ZEROS_4X4_INV = {tc: _inv(t) for tc, t in _TOTAL_ZEROS_4X4.items()}
_RUN_BEFORE_FULL_INV = {zl: _inv(t) for zl, t in _RUN_BEFORE_FULL.items()}
_CHROMA_DC_TOKENS_INV = _inv(_CHROMA_DC_TOKENS)
_TOTAL_ZEROS_2X2_INV = {tc: _inv(t) for tc, t in _TOTAL_ZEROS_2X2.items()}
_RUN_BEFORE_INV = {zl: _inv(t) for zl, t in _RUN_BEFORE.items()}


def _coeff_token_inv(n_c: int) -> dict:
    if n_c < 2:
        return _COEFF_TOKEN_INV[0]
    if n_c < 4:
        return _COEFF_TOKEN_INV[1]
    return _COEFF_TOKEN_INV[2]


def _parse_residual_4x4(
    r: _BitReader, n_c: int, max_coeff: int = 16
) -> list[int]:
    """CAVLC residual_block for a 4x4 luma/chroma block (spec 9.2):
    coeff_token from the nC-selected Table 9-5 sub-table (VLC0/1/2 or
    the nC >= 8 6-bit FLC), trailing-one signs, the complete level
    state machine incl. spec-9.2.2.1 escape levels, Table 9-7
    total_zeros and Table 9-10 run_before. ``max_coeff`` is 16 for
    LumaLevel4x4 blocks and 15 for Intra16x16ACLevel / ChromaACLevel
    blocks (whose scan skips the DC position). Returns ``max_coeff``
    coefficients in (AC-offset) zig-zag scan order."""
    if n_c >= 8:
        code = r.u(6)
        if code == 3:
            return [0] * max_coeff
        tc, t1s = code // 4 + 1, code % 4
    else:
        t1s, tc = _read_vlc(
            r, _coeff_token_table(n_c), f"coeff_token nC={n_c}",
            max_bits=16,
        )
        if tc == 0:
            return [0] * max_coeff
    if tc > max_coeff:
        raise ValueError(
            f"coeff_token TotalCoeff {tc} > maxNumCoeff {max_coeff}"
        )
    levels = _read_levels(r, tc, t1s)
    if tc < max_coeff:
        tz = _read_vlc(
            r, _TOTAL_ZEROS_4X4[tc], "4x4 total_zeros", max_bits=9
        )
        if tz > max_coeff - tc:
            raise ValueError(
                f"total_zeros {tz} > maxNumCoeff - TotalCoeff "
                f"({max_coeff} - {tc})"
            )
    else:
        tz = 0
    coeffs = [0] * max_coeff
    zeros_left = tz
    pos = tc + tz - 1
    for idx, lvl in enumerate(levels):
        coeffs[pos] = lvl
        if idx == tc - 1:
            break
        run = (
            _read_vlc(
                r, _RUN_BEFORE_FULL[min(zeros_left, 7)], "run_before",
                max_bits=11,
            )
            if zeros_left > 0
            else 0
        )
        if run > zeros_left:
            # spec 9.2.3: run_before shall not exceed zerosLeft; a
            # corrupt stream must raise, not wrap pos into negative
            # (Python) indexing and emit plausible garbage
            raise ValueError(
                f"run_before {run} > zerosLeft {zeros_left} "
                "(corrupt stream?)"
            )
        zeros_left -= run
        pos -= 1 + run
    return coeffs


def _write_residual_4x4(
    w_: _BitWriter, coeffs: list[int], n_c: int, max_coeff: int = 16
) -> int:
    """Bit-exact encoder inverse of ``_parse_residual_4x4``: derives
    (TotalCoeff, TrailingOnes, total_zeros, run_before) from the
    coefficient array, picks the nC-matched coeff_token sub-table,
    and writes the block. Returns TotalCoeff (the caller's per-4x4
    nC bookkeeping)."""
    nz = [k for k, v in enumerate(coeffs) if v != 0]
    tc = len(nz)
    # TrailingOnes: up to 3 consecutive +-1 at the highest scan
    # positions of the nonzero set
    t1s = 0
    for k in reversed(nz):
        if abs(coeffs[k]) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    if n_c >= 8:
        if tc == 0:
            w_.u(3, 6)
        else:
            w_.u(4 * (tc - 1) + t1s, 6)
    else:
        code = _coeff_token_inv(n_c)[(t1s, tc)]
        w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
    if tc == 0:
        return 0
    levels = [coeffs[k] for k in reversed(nz)]
    _write_levels(w_, levels, tc, t1s)
    tz = nz[-1] + 1 - tc
    if tc < max_coeff:
        code = _TOTAL_ZEROS_4X4_INV[tc][tz]
        w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
    zeros_left = tz
    for i in range(tc - 1):
        if zeros_left <= 0:
            break
        run = nz[tc - 1 - i] - nz[tc - 2 - i] - 1
        code = _RUN_BEFORE_FULL_INV[min(zeros_left, 7)][run]
        w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
        zeros_left -= run
    return tc


#: LevelScale4x4 weights (spec 8.5.9): rows = qP % 6, columns = the
#: (i, j)-class: 0 = both even, 1 = both odd, 2 = mixed
_V4 = [
    [10, 16, 13],
    [11, 18, 14],
    [13, 20, 16],
    [14, 23, 18],
    [16, 25, 20],
    [18, 29, 23],
]


def _dequant4x4(
    zz_coeffs: list[int], qp: int, dc: int | None = None
) -> np.ndarray:
    """Spec 8.5.12.1 scaling of a 4x4 residual block. With ``dc``
    given, ``zz_coeffs`` are the 15 AC levels (scan positions 1..15)
    and d[0][0] is set to the externally-scaled DC (the Intra16x16 /
    chroma-DC substitution of spec 8.5.8); otherwise all 16 scan
    positions scale here."""
    d = np.zeros((4, 4), np.int64)
    off = 0 if dc is None else 1
    for k, lvl in enumerate(zz_coeffs):
        if lvl == 0:
            continue
        i_, j_ = _ZZ4[k + off]
        cls_ = 0 if (i_ % 2 == 0 and j_ % 2 == 0) else (
            1 if (i_ % 2 == 1 and j_ % 2 == 1) else 2
        )
        v = _V4[qp % 6][cls_]
        if qp >= 24:
            d[i_, j_] = (lvl * v) << (qp // 6 - 4)
        else:
            d[i_, j_] = (lvl * v + (1 << (3 - qp // 6))) >> (
                4 - qp // 6
            )
    if dc is not None:
        d[0, 0] = dc
    return d


def _itransform4x4(d: np.ndarray) -> np.ndarray:
    """Spec 8.5.12.2 4x4 inverse core transform (integer butterflies,
    rows then columns) + the final (f + 32) >> 6 rounding. Returns the
    4x4 residual array."""
    f = np.zeros((4, 4), np.int64)
    for i in range(4):
        e0 = d[i, 0] + d[i, 2]
        e1 = d[i, 0] - d[i, 2]
        e2 = (d[i, 1] >> 1) - d[i, 3]
        e3 = d[i, 1] + (d[i, 3] >> 1)
        f[i] = (e0 + e3, e1 + e2, e1 - e2, e0 - e3)
    h = np.zeros((4, 4), np.int64)
    for j in range(4):
        g0 = f[0, j] + f[2, j]
        g1 = f[0, j] - f[2, j]
        g2 = (f[1, j] >> 1) - f[3, j]
        g3 = f[1, j] + (f[3, j] >> 1)
        h[:, j] = (g0 + g3, g1 + g2, g1 - g2, g0 - g3)
    return (h + 32) >> 6


#: luma4x4BlkIdx -> (block row, block col) in 4x4 units (spec figure
#: 6-10: 8x8 quadrants in raster order, 2x2 raster within each)
_BLK4_POS = [
    (2 * (q // 2) + w // 2, 2 * (q % 2) + w % 2)
    for q in range(4)
    for w in range(4)
]


def _mb_of4(r4: int, c4: int, mbs_w: int) -> int:
    """Raster MB address owning the 4x4-grid position (r4, c4)."""
    return (r4 // 4) * mbs_w + (c4 // 4)


def _chroma_dc_scaled(coeffs: list[int], qpc: int) -> list[int]:
    """2x2 inverse Hadamard + chroma-DC scaling (spec 8.5.11): the
    raw dcC values in chroma4x4BlkIdx raster order. DC-only blocks
    add the uniform (dcC + 32) >> 6; with chroma AC present each dcC
    lands at d[0][0] of its block's inverse core transform."""
    c00, c01, c10, c11 = coeffs
    f = [
        c00 + c01 + c10 + c11,
        c00 - c01 + c10 - c11,
        c00 + c01 - c10 - c11,
        c00 - c01 - c10 + c11,
    ]
    ls = _LS00[qpc % 6]
    return [(fv * ls << (qpc // 6)) >> 5 for fv in f]


#: Table 9-4 (me(v) coded_block_pattern), Intra_4x4 column:
#: codeNum -> coded_block_pattern; a permutation of 0..47
#: (tests/test_h264_ac.py pins that)
_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {v: k for k, v in enumerate(_CBP_INTRA)}

# Table 9-4, Inter column: me(v) codeNum -> coded_block_pattern for
# macroblock prediction modes other than Intra_4x4/Intra_8x8 (P MBs).
# Transcribed from the published spec table; tests/test_h264_p.py
# pins that it is a permutation of 0..47 and that the two columns
# agree on the shared tail entries (codeNum 46/47 -> 38/41).
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {v: k for k, v in enumerate(_CBP_INTER)}


def _predict_4x4_block(
    y: np.ndarray,
    r4: int,
    c4: int,
    mode: int,
    left_ok: bool,
    top_ok: bool,
    tl_ok: bool,
    tr_ok: bool,
) -> np.ndarray:
    """Intra_4x4 luma prediction (spec 8.3.1.2, all nine modes) from
    already-reconstructed neighbor samples of the 4x4 block at
    absolute 4x4-grid position (r4, c4). Unavailable top-right
    samples substitute p[3, -1] per spec when the top edge is
    available; a directional mode whose required edge is unavailable
    raises (emitting it is an encoder-conformance violation, the
    _predict_16x16 discipline). Returns the 4x4 prediction array."""
    y0, x0 = 4 * r4, 4 * c4
    l = [int(y[y0 + k, x0 - 1]) for k in range(4)] if left_ok else None
    t = [int(y[y0 - 1, x0 + k]) for k in range(4)] if top_ok else None
    m = int(y[y0 - 1, x0 - 1]) if tl_ok else None
    if top_ok:
        if tr_ok:
            tr = [int(y[y0 - 1, x0 + 4 + k]) for k in range(4)]
        else:
            tr = [t[3]] * 4
        t8 = t + tr
    else:
        t8 = None
    pred = np.zeros((4, 4), np.int32)

    def need(cond: bool, what: str) -> None:
        if not cond:
            raise ValueError(
                f"Intra_4x4 mode {mode} without {what} neighbor "
                "(non-conformant stream)"
            )

    if mode == 0:  # Vertical
        need(top_ok, "top")
        for yy in range(4):
            pred[yy] = t
    elif mode == 1:  # Horizontal
        need(left_ok, "left")
        for yy in range(4):
            pred[yy] = l[yy]
    elif mode == 2:  # DC
        if top_ok and left_ok:
            pred[:] = (sum(t) + sum(l) + 4) >> 3
        elif left_ok:
            pred[:] = (sum(l) + 2) >> 2
        elif top_ok:
            pred[:] = (sum(t) + 2) >> 2
        else:
            pred[:] = 128
    elif mode == 3:  # Diagonal-Down-Left
        need(top_ok, "top")
        for yy in range(4):
            for x in range(4):
                if x == 3 and yy == 3:
                    pred[yy, x] = (t8[6] + 3 * t8[7] + 2) >> 2
                else:
                    pred[yy, x] = (
                        t8[x + yy] + 2 * t8[x + yy + 1] + t8[x + yy + 2]
                        + 2
                    ) >> 2
    elif mode == 4:  # Diagonal-Down-Right
        need(top_ok and left_ok and tl_ok, "top+left+corner")
        for yy in range(4):
            for x in range(4):
                if x > yy:
                    a = m if x - yy - 2 < 0 else t[x - yy - 2]
                    pred[yy, x] = (
                        a + 2 * (m if x - yy - 1 < 0 else t[x - yy - 1])
                        + t[x - yy] + 2
                    ) >> 2
                elif x < yy:
                    a = m if yy - x - 2 < 0 else l[yy - x - 2]
                    pred[yy, x] = (
                        a + 2 * (m if yy - x - 1 < 0 else l[yy - x - 1])
                        + l[yy - x] + 2
                    ) >> 2
                else:
                    pred[yy, x] = (t[0] + 2 * m + l[0] + 2) >> 2
    elif mode == 5:  # Vertical-Right
        need(top_ok and left_ok and tl_ok, "top+left+corner")
        tt = [m] + t  # tt[k+1] = p[k, -1], tt[0] = p[-1, -1]
        for yy in range(4):
            for x in range(4):
                z = 2 * x - yy
                if z >= 0 and z % 2 == 0:
                    pred[yy, x] = (
                        tt[x - (yy >> 1)] + tt[x - (yy >> 1) + 1] + 1
                    ) >> 1
                elif z >= 0:
                    pred[yy, x] = (
                        tt[x - (yy >> 1) - 1]
                        + 2 * tt[x - (yy >> 1)]
                        + tt[x - (yy >> 1) + 1] + 2
                    ) >> 2
                elif z == -1:
                    pred[yy, x] = (l[0] + 2 * m + t[0] + 2) >> 2
                else:
                    pred[yy, x] = (
                        l[yy - 1] + 2 * l[yy - 2]
                        + (l[yy - 3] if yy - 3 >= 0 else m) + 2
                    ) >> 2
    elif mode == 6:  # Horizontal-Down
        need(top_ok and left_ok and tl_ok, "top+left+corner")
        ll = [m] + l  # ll[k+1] = p[-1, k]
        for yy in range(4):
            for x in range(4):
                z = 2 * yy - x
                if z >= 0 and z % 2 == 0:
                    pred[yy, x] = (
                        ll[yy - (x >> 1)] + ll[yy - (x >> 1) + 1] + 1
                    ) >> 1
                elif z >= 0:
                    pred[yy, x] = (
                        ll[yy - (x >> 1) - 1]
                        + 2 * ll[yy - (x >> 1)]
                        + ll[yy - (x >> 1) + 1] + 2
                    ) >> 2
                elif z == -1:
                    pred[yy, x] = (l[0] + 2 * m + t[0] + 2) >> 2
                else:
                    pred[yy, x] = (
                        t[x - 1] + 2 * t[x - 2]
                        + (t[x - 3] if x - 3 >= 0 else m) + 2
                    ) >> 2
    elif mode == 7:  # Vertical-Left
        need(top_ok, "top")
        for yy in range(4):
            for x in range(4):
                if yy % 2 == 0:
                    pred[yy, x] = (
                        t8[x + (yy >> 1)] + t8[x + (yy >> 1) + 1] + 1
                    ) >> 1
                else:
                    pred[yy, x] = (
                        t8[x + (yy >> 1)]
                        + 2 * t8[x + (yy >> 1) + 1]
                        + t8[x + (yy >> 1) + 2] + 2
                    ) >> 2
    elif mode == 8:  # Horizontal-Up
        need(left_ok, "left")
        for yy in range(4):
            for x in range(4):
                z = x + 2 * yy
                if z in (0, 2, 4):
                    pred[yy, x] = (
                        l[yy + (x >> 1)] + l[yy + (x >> 1) + 1] + 1
                    ) >> 1
                elif z in (1, 3):
                    pred[yy, x] = (
                        l[yy + (x >> 1)]
                        + 2 * l[yy + (x >> 1) + 1]
                        + l[yy + (x >> 1) + 2] + 2
                    ) >> 2
                elif z == 5:
                    pred[yy, x] = (l[2] + 3 * l[3] + 2) >> 2
                else:
                    pred[yy, x] = l[3]
    else:
        raise ValueError(f"Intra_4x4 prediction mode {mode} out of range")
    return pred


def _predict_16x16(
    y: np.ndarray,
    mbx: int,
    mby: int,
    mode: int,
    top_ok: bool = True,
    left_ok: bool = True,
) -> None:
    """Intra_16x16 luma prediction (spec 8.3.3) from already-
    reconstructed neighbor edges: 0=Vertical, 1=Horizontal, 2=DC,
    3=Plane (spec 8.3.3.4 integer-gradient fit over the top/left
    edges incl. the above-left corner sample). ``top_ok``/``left_ok``
    carry slice-boundary availability (a neighbor in another slice is
    unavailable, spec 8.3): DC falls back per spec, directional and
    Plane modes on an unavailable edge raise — an encoder that emits
    them is non-conformant."""
    x0, y0 = mbx * 16, mby * 16
    top = (
        y[y0 - 1, x0 : x0 + 16].astype(np.int32)
        if (mby > 0 and top_ok)
        else None
    )
    left = (
        y[y0 : y0 + 16, x0 - 1].astype(np.int32)
        if (mbx > 0 and left_ok)
        else None
    )
    blk = y[y0 : y0 + 16, x0 : x0 + 16]
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("Vertical prediction without top neighbor")
        blk[:, :] = top[None, :]
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("Horizontal prediction without left neighbor")
        blk[:, :] = left[:, None]
    elif mode == 3:  # Plane
        if top is None or left is None:
            raise ValueError("Plane prediction needs top+left neighbors")
        corner = int(y[y0 - 1, x0 - 1])
        edge_t = [corner] + [int(v) for v in top]   # p[x, -1], x=-1..15
        edge_l = [corner] + [int(v) for v in left]  # p[-1, y], y=-1..15
        h = sum(
            (xp + 1) * (edge_t[9 + xp] - edge_t[7 - xp]) for xp in range(8)
        )
        v = sum(
            (yp + 1) * (edge_l[9 + yp] - edge_l[7 - yp]) for yp in range(8)
        )
        a = 16 * (edge_t[16] + edge_l[16])
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        xs = np.arange(16, dtype=np.int32)
        plane = (a + b * (xs[None, :] - 7) + c * (xs[:, None] - 7) + 16) >> 5
        blk[:, :] = np.clip(plane, 0, 255)
    else:  # DC
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top is not None:
            dc = (int(top.sum()) + 8) >> 4
        elif left is not None:
            dc = (int(left.sum()) + 8) >> 4
        else:
            dc = 128
        blk[:, :] = dc


def _predict_chroma8x8(
    c: np.ndarray,
    mbx: int,
    mby: int,
    mode: int,
    top_ok: bool = True,
    left_ok: bool = True,
) -> None:
    """Chroma 8x8 prediction (spec 8.3.4): 0=DC (per-4x4 corner rule),
    1=Horizontal, 2=Vertical, 3=Plane (8x8 integer-gradient fit,
    coefficients 17/(>>5)). ``top_ok``/``left_ok`` carry
    slice-boundary availability, as in ``_predict_16x16``."""
    x0, y0 = mbx * 8, mby * 8
    top = (
        c[y0 - 1, x0 : x0 + 8].astype(np.int32)
        if (mby > 0 and top_ok)
        else None
    )
    left = (
        c[y0 : y0 + 8, x0 - 1].astype(np.int32)
        if (mbx > 0 and left_ok)
        else None
    )
    blk = c[y0 : y0 + 8, x0 : x0 + 8]
    if mode == 2:  # Vertical
        if top is None:
            raise ValueError("Vertical chroma prediction without top")
        blk[:, :] = top[None, :]
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("Horizontal chroma prediction without left")
        blk[:, :] = left[:, None]
    elif mode == 3:  # Plane
        if top is None or left is None:
            raise ValueError("Plane chroma prediction needs top+left")
        corner = int(c[y0 - 1, x0 - 1])
        edge_t = [corner] + [int(v) for v in top]   # p[x, -1], x=-1..7
        edge_l = [corner] + [int(v) for v in left]  # p[-1, y], y=-1..7
        h = sum(
            (xp + 1) * (edge_t[5 + xp] - edge_t[3 - xp]) for xp in range(4)
        )
        v = sum(
            (yp + 1) * (edge_l[5 + yp] - edge_l[3 - yp]) for yp in range(4)
        )
        a = 16 * (edge_t[8] + edge_l[8])
        b = (17 * h + 16) >> 5
        cc = (17 * v + 16) >> 5
        xs = np.arange(8, dtype=np.int32)
        plane = (a + b * (xs[None, :] - 3) + cc * (xs[:, None] - 3) + 16) >> 5
        blk[:, :] = np.clip(plane, 0, 255)
    else:  # DC, per 4x4 sub-block
        for by in (0, 4):
            for bx in (0, 4):
                t = top[bx : bx + 4] if top is not None else None
                l_ = left[by : by + 4] if left is not None else None
                if bx == by:  # (0,0) and (4,4): average both edges
                    if t is not None and l_ is not None:
                        dc = (int(t.sum()) + int(l_.sum()) + 4) >> 3
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    elif l_ is not None:
                        dc = (int(l_.sum()) + 2) >> 2
                    else:
                        dc = 128
                elif bx == 4:  # (4,0): top else left
                    if t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    elif l_ is not None:
                        dc = (int(l_.sum()) + 2) >> 2
                    else:
                        dc = 128
                else:  # (0,4): left else top
                    if l_ is not None:
                        dc = (int(l_.sum()) + 2) >> 2
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    else:
                        dc = 128
                blk[by : by + 4, bx : bx + 4] = dc


# ---------------------------------------------------------------------
# P-slice inter prediction (round 9, notch 13): quarter-sample luma /
# eighth-sample chroma motion compensation (spec 8.4.2.2) and the
# median motion-vector predictor + P_Skip derivation (spec 8.4.1).
# The fixture/encoder/twin side lives in operators/h264p.py; these are
# the DECODER's kernels (vectorized numpy), independent of the
# explicit-loop twins the oracle embeds.
# ---------------------------------------------------------------------


def _mc_luma_block(
    ref: np.ndarray,
    x0: int,
    y0: int,
    mvx: int,
    mvy: int,
    bw: int = 16,
    bh: int = 16,
) -> np.ndarray:
    """Spec 8.4.2.2.1 quarter-sample luma interpolation of the
    bw x bh partition at (x0, y0) under quarter-pel motion
    (mvx, mvy): 6-tap (1,-5,20,20,-5,1) half-sample filters, the
    center position ``j`` filtered from UN-rounded intermediates
    ((j1+512)>>10), quarter positions as +1>>1 averages of the
    already-clipped neighbors (Table 8-12), and every integer
    reference coordinate Clip3'd to the picture independently (edge
    replication for unrestricted vectors)."""
    xi, yi = x0 + (mvx >> 2), y0 + (mvy >> 2)
    xf, yf = mvx & 3, mvy & 3
    h_, w_ = ref.shape
    ys = np.clip(np.arange(yi - 2, yi + bh + 4), 0, h_ - 1)
    xs = np.clip(np.arange(xi - 2, xi + bw + 4), 0, w_ - 1)
    p = ref[np.ix_(ys, xs)].astype(np.int64)  # origin at [2,2]
    if xf == 0 and yf == 0:
        return p[2 : 2 + bh, 2 : 2 + bw]
    g = p[2 : 3 + bh, 2 : 3 + bw]  # integer samples, offsets 0..bw
    # Exactly one Table 8-12 position is needed per call; with P_8x8
    # sub-partitions this runs per 4x4 block, so compute only the
    # half-pel intermediates that position reads (b: horizontal, hv:
    # vertical, jc: center — jc needs the full-height un-rounded b1).
    need_b = xf != 0 and yf != 2
    need_h = yf != 0 and xf != 2
    need_j = (xf == 2 and yf != 0) or (yf == 2 and xf != 0)
    b = hv = jc = None
    if need_b or need_j:
        rows = p if need_j else p[2 : 3 + bh, :]
        b1 = (
            rows[:, 0 : bw + 1] - 5 * rows[:, 1 : bw + 2]
            + 20 * rows[:, 2 : bw + 3] + 20 * rows[:, 3 : bw + 4]
            - 5 * rows[:, 4 : bw + 5] + rows[:, 5 : bw + 6]
        )  # un-rounded horizontal half-pel intermediates
        if need_j:
            j1 = (
                b1[0 : bh + 1, :] - 5 * b1[1 : bh + 2, :]
                + 20 * b1[2 : bh + 3, :] + 20 * b1[3 : bh + 4, :]
                - 5 * b1[4 : bh + 5, :] + b1[5 : bh + 6, :]
            )
            jc = np.clip((j1 + 512) >> 10, 0, 255)
            if need_b:
                b = np.clip((b1[2 : 3 + bh, :] + 16) >> 5, 0, 255)
        else:
            b = np.clip((b1 + 16) >> 5, 0, 255)
    if need_h:
        h1 = (
            p[0 : bh + 1, :] - 5 * p[1 : bh + 2, :]
            + 20 * p[2 : bh + 3, :] + 20 * p[3 : bh + 4, :]
            - 5 * p[4 : bh + 5, :] + p[5 : bh + 6, :]
        )
        hv = np.clip((h1[:, 2 : 3 + bw] + 16) >> 5, 0, 255)
    if yf == 0:
        b00 = b[0:bh, 0:bw]
        if xf == 2:
            return b00
        gq = g[0:bh, 0:bw] if xf == 1 else g[0:bh, 1 : bw + 1]
        return (gq + b00 + 1) >> 1
    if xf == 0:
        h00 = hv[0:bh, 0:bw]
        if yf == 2:
            return h00
        gq = g[0:bh, 0:bw] if yf == 1 else g[1 : bh + 1, 0:bw]
        return (gq + h00 + 1) >> 1
    if xf == 2:
        j00 = jc[0:bh, 0:bw]
        if yf == 2:
            return j00
        bq = b[0:bh, 0:bw] if yf == 1 else b[1 : bh + 1, 0:bw]
        return (bq + j00 + 1) >> 1
    if yf == 2:
        hq = hv[0:bh, 0:bw] if xf == 1 else hv[0:bh, 1 : bw + 1]
        return (hq + jc[0:bh, 0:bw] + 1) >> 1
    # xf and yf both odd: nearest-b / nearest-hv quarter average
    bq = b[0:bh, 0:bw] if yf == 1 else b[1 : bh + 1, 0:bw]
    hq = hv[0:bh, 0:bw] if xf == 1 else hv[0:bh, 1 : bw + 1]
    return (bq + hq + 1) >> 1


def _mc_chroma_block(
    ref: np.ndarray,
    x0: int,
    y0: int,
    mvx: int,
    mvy: int,
    bw: int = 8,
    bh: int = 8,
) -> np.ndarray:
    """Spec 8.4.2.2.2 eighth-sample bilinear chroma interpolation of
    the bw x bh block at chroma coordinates (x0, y0): for 4:2:0 frame
    coding the chroma vector equals the luma vector with eighth-pel
    precision (mv >> 3 integer part, mv & 7 fraction); coordinates
    Clip3'd to the chroma plane."""
    xi, yi = x0 + (mvx >> 3), y0 + (mvy >> 3)
    xf, yf = mvx & 7, mvy & 7
    h_, w_ = ref.shape
    ys = np.clip(np.arange(yi, yi + bh + 1), 0, h_ - 1)
    xs = np.clip(np.arange(xi, xi + bw + 1), 0, w_ - 1)
    c = ref[np.ix_(ys, xs)].astype(np.int64)
    a_, b_ = c[0:bh, 0:bw], c[0:bh, 1 : bw + 1]
    c_, d_ = c[1 : bh + 1, 0:bw], c[1 : bh + 1, 1 : bw + 1]
    return (
        (8 - xf) * (8 - yf) * a_ + xf * (8 - yf) * b_
        + (8 - xf) * yf * c_ + xf * yf * d_ + 32
    ) >> 6


def _reorder_l0(dpb, mods, n_ref, cur_fnum, max_pic):
    """RefPicList0 construction (spec 8.2.4.2.1 + 8.2.4.3.1):
    initial order by descending FrameNumWrap (fn - MaxFrameNum when
    fn > CurrPicNum), then the short-term modification loop —
    picNumLXNoWrap chaining through picNumLXPred, insertion at the
    running refIdx with the duplicate dropped, final truncation to
    the active size. ``dpb`` entries are (frame_num, planes)."""

    def wrapnum(fn: int) -> int:
        return fn - max_pic if fn > cur_fnum else fn

    lst = sorted(dpb, key=lambda e: wrapnum(e[0]), reverse=True)
    lst = lst[: n_ref if not mods else n_ref + 1]
    pred = cur_fnum
    for ridx, (idc, val) in enumerate(mods):
        if idc == 0:
            pic_no_wrap = pred - (val + 1)
            if pic_no_wrap < 0:
                pic_no_wrap += max_pic
        else:
            pic_no_wrap = pred + (val + 1)
            if pic_no_wrap >= max_pic:
                pic_no_wrap -= max_pic
        pred = pic_no_wrap
        pic_num = (
            pic_no_wrap
            if pic_no_wrap <= cur_fnum
            else pic_no_wrap - max_pic
        )
        matches = [e for e in dpb if wrapnum(e[0]) == pic_num]
        if not matches:
            raise ValueError(
                f"ref_pic_list_modification names PicNum {pic_num} "
                "absent from the decoded reference pictures"
            )
        ent = matches[-1]
        lst = (
            lst[:ridx]
            + [ent]
            + [e for e in lst[ridx:] if wrapnum(e[0]) != pic_num]
        )[: n_ref + 1]
    return lst[:n_ref]


def _parse_pred_weights(r: "_BitReader", n_ref: int) -> dict:
    """pred_weight_table (spec 7.3.3.2) for P slices, list 0 only:
    per-reference explicit luma/chroma weights and offsets; absent
    flags take the default weight 1 << logWD, offset 0."""
    logy = r.ue()  # luma_log2_weight_denom
    logc = r.ue()  # chroma_log2_weight_denom
    if logy > 7 or logc > 7:
        raise ValueError(
            f"log2_weight_denom {max(logy, logc)} out of the spec "
            "range 0..7 (corrupt stream?)"
        )
    wt = {
        "logy": logy, "logc": logc,
        "wy": [1 << logy] * n_ref, "oy": [0] * n_ref,
        "wcb": [1 << logc] * n_ref, "ocb": [0] * n_ref,
        "wcr": [1 << logc] * n_ref, "ocr": [0] * n_ref,
    }
    def cod(what: str) -> int:
        # spec 7.4.3.2: every CODED weight/offset is in -128..127
        # (inferred defaults 1 << logWD may exceed this and are fine)
        v = r.se()
        if not -128 <= v <= 127:
            raise ValueError(
                f"{what} {v} out of the spec range -128..127 "
                "(corrupt stream?)"
            )
        return v

    for k in range(n_ref):
        if r.u(1):  # luma_weight_l0_flag
            wt["wy"][k] = cod("luma_weight_l0")
            wt["oy"][k] = cod("luma_offset_l0")
        if r.u(1):  # chroma_weight_l0_flag
            wt["wcb"][k] = cod("chroma_weight_l0")
            wt["ocb"][k] = cod("chroma_offset_l0")
            wt["wcr"][k] = cod("chroma_weight_l0")
            wt["ocr"][k] = cod("chroma_offset_l0")
    return wt


def _apply_weight(pred, w: int, o: int, logwd: int):
    """Spec 8.4.2.3.2 explicit uni-prediction weighting:
    Clip1(((pred * w + 2^(logWD-1)) >> logWD) + o), degenerating to
    Clip1(pred * w + o) at logWD == 0."""
    pred = np.asarray(pred, np.int64)
    if logwd >= 1:
        return np.clip(
            ((pred * w + (1 << (logwd - 1))) >> logwd) + o, 0, 255
        )
    return np.clip(pred * w + o, 0, 255)


def _mc_part_into(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    ref_y: np.ndarray,
    ref_cb: np.ndarray,
    ref_cr: np.ndarray,
    x0: int,
    y0: int,
    bw: int,
    bh: int,
    mvx: int,
    mvy: int,
    wt: dict | None = None,
    ridx: int = 0,
) -> None:
    """Motion-compensate one luma partition (bw x bh at (x0, y0))
    plus its chroma halves from the reference picture into the
    current picture; with ``wt`` (a parsed pred_weight_table) the
    spec-8.4.2.3.2 explicit weighting applies per plane."""
    py = _mc_luma_block(ref_y, x0, y0, mvx, mvy, bw, bh)
    cx, cy, cw, ch = x0 // 2, y0 // 2, bw // 2, bh // 2
    pcb = _mc_chroma_block(ref_cb, cx, cy, mvx, mvy, cw, ch)
    pcr = _mc_chroma_block(ref_cr, cx, cy, mvx, mvy, cw, ch)
    if wt is not None:
        py = _apply_weight(py, wt["wy"][ridx], wt["oy"][ridx], wt["logy"])
        pcb = _apply_weight(
            pcb, wt["wcb"][ridx], wt["ocb"][ridx], wt["logc"]
        )
        pcr = _apply_weight(
            pcr, wt["wcr"][ridx], wt["ocr"][ridx], wt["logc"]
        )
    y[y0 : y0 + bh, x0 : x0 + bw] = py
    cb[cy : cy + ch, cx : cx + cw] = pcb
    cr[cy : cy + ch, cx : cx + cw] = pcr


def _mc_16x16_into(y, cb, cr, ref_y, ref_cb, ref_cr, mbx, mby,
                   mvx, mvy, wt=None, ridx=0):
    _mc_part_into(
        y, cb, cr, ref_y, ref_cb, ref_cr,
        16 * mbx, 16 * mby, 16, 16, mvx, mvy, wt, ridx,
    )


def _median3(a: int, b: int, c: int) -> int:
    return a + b + c - min(a, b, c) - max(a, b, c)


# sub-macroblock partition geometry (Table 7-17, P slices): offsets
# and sizes within one 8x8 block per sub_mb_type — 0 = P_L0_8x8,
# 1 = P_L0_8x4, 2 = P_L0_4x8, 3 = P_L0_4x4
_SUB_MB_GEOM = {
    0: [(0, 0, 8, 8)],
    1: [(0, 0, 8, 4), (0, 4, 8, 4)],
    2: [(0, 0, 4, 8), (4, 0, 4, 8)],
    3: [(0, 0, 4, 4), (4, 0, 4, 4), (0, 4, 4, 4), (4, 4, 4, 4)],
}


def _nbr4(bx, by, mv4x, mv4y, ref4, avail_mb, mbs_w):
    """Neighboring-PARTITION lookup at 4x4-block coordinates
    (spec 6.4.11.7 granularity): returns (mvx, mvy, refIdx,
    mb_available). Outside the picture, not yet decoded, or
    slice-gated -> unavailable; an intra block -> available MB with
    refIdx -1 and a zero vector. ``ref4`` uses -2 = undecoded,
    -1 = intra, 0 = inter (single L0 reference)."""
    if bx < 0 or by < 0 or by >= ref4.shape[0] or bx >= ref4.shape[1]:
        return 0, 0, -1, False
    rf = int(ref4[by, bx])
    if rf == -2:
        return 0, 0, -1, False
    if not avail_mb((by // 4) * mbs_w + (bx // 4)):
        return 0, 0, -1, False
    if rf < 0:
        return 0, 0, -1, True
    return int(mv4x[by, bx]), int(mv4y[by, bx]), rf, True


def _read_te(r: "_BitReader", cmax: int) -> int:
    """te(v) truncated Exp-Golomb (spec 9.1.1): single inverted bit
    when the range is 0..1, plain ue(v) above."""
    if cmax == 0:
        return 0
    if cmax == 1:
        return 1 - r.u(1)
    return r.ue()


def _mvp_part(bx, by, w4, h4, shape, idx, mv4x, mv4y, ref4,
              avail_mb, mbs_w, cur_ref=0):
    """Spec 8.4.1.3 motion-vector prediction for the w4 x h4 (in 4x4
    units) partition whose top-left block is (bx, by): gather
    partition neighbors A (left), B (above), C (above-right of the
    partition, replaced by D above-left when unavailable); the
    directional 16x8 / 8x16 shortcuts when the corresponding
    neighbor's refIdx matches; else (8.4.1.3.1) mvA when B and C are
    both unavailable MBs and A is available, the single
    matching-refIdx neighbor when exactly one matches, else the
    component-wise median. ``avail_mb(n)`` is MB availability
    (decoded and same slice, with the current MB's own earlier
    partitions visible)."""
    a = _nbr4(bx - 1, by, mv4x, mv4y, ref4, avail_mb, mbs_w)
    b = _nbr4(bx, by - 1, mv4x, mv4y, ref4, avail_mb, mbs_w)
    c = _nbr4(bx + w4, by - 1, mv4x, mv4y, ref4, avail_mb, mbs_w)
    if not c[3]:  # C unavailable: substitute D (above-left)
        c = _nbr4(bx - 1, by - 1, mv4x, mv4y, ref4, avail_mb, mbs_w)
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
    return (
        _median3(a[0], b[0], c[0]),
        _median3(a[1], b[1], c[1]),
    )


def _skip_mv_part(bx, by, mv4x, mv4y, ref4, avail_mb, mbs_w):
    """Spec 8.4.1.1 P_Skip motion derivation at (bx, by) = the MB's
    top-left 4x4 block: the zero vector when the left or top
    neighbor is unavailable or is an inter block with refIdx 0 and a
    zero vector; otherwise the 16x16 median predictor."""
    a = _nbr4(bx - 1, by, mv4x, mv4y, ref4, avail_mb, mbs_w)
    b = _nbr4(bx, by - 1, mv4x, mv4y, ref4, avail_mb, mbs_w)
    if not a[3] or not b[3]:
        return 0, 0
    for n in (a, b):
        if n[2] == 0 and n[0] == 0 and n[1] == 0:
            return 0, 0
    return _mvp_part(
        bx, by, 4, 4, "16x16", 0, mv4x, mv4y, ref4, avail_mb, mbs_w
    )


def _last_set_bit_pos(rbsp: bytes) -> int:
    """Bit position (MSB-first reader convention) of the rbsp stop
    bit — the LAST set bit in the rbsp (rbsp_trailing writes a 1 then
    zero-pads). ``more_rbsp_data()`` is exactly ``pos < this``."""
    for bi in range(len(rbsp) - 1, -1, -1):
        b = rbsp[bi]
        if b:
            k = 0
            while not (b >> k) & 1:
                k += 1
            return bi * 8 + (7 - k)
    raise ValueError("no rbsp stop bit in slice data")


def decode_h264_stream(
    data: bytes,
) -> tuple[list[tuple[np.ndarray, np.ndarray, np.ndarray]], dict]:
    """Decode an Annex-B stream of one or more IDR pictures. Thin
    wrapper over ``decode_h264_stream_info`` that drops the per-picture
    slice counts."""
    pics, sps, _ = decode_h264_stream_info(data)
    return pics, sps


def decode_h264_stream_info(
    data: bytes,
) -> tuple[
    list[tuple[np.ndarray, np.ndarray, np.ndarray]], dict, list[int]
]:
    """Decode an Annex-B stream of one or more IDR pictures, each
    possibly split across multiple slice NALs (``first_mb_in_slice``
    raster order). Returns ([(Y, Cb, Cr), ...], sps, slice_counts)
    where ``slice_counts[i]`` is the number of slice NALs actually
    parsed for picture i (not inferred from geometry — a single-slice
    encoding of a tall picture reports 1).

    Real multi-slice semantics: a slice's macroblock count is not
    coded — the MB loop runs while ``more_rbsp_data()`` (bits remain
    before the trailing stop bit, spec 7.2); a ``first_mb_in_slice``
    of 0 starts a new picture (the subset's picture-boundary rule:
    slices arrive in raster order). Intra prediction and CAVLC nC
    derivation treat macroblocks of OTHER slices as unavailable
    (spec 8.3/9.2.1 availability: constrained to the current slice) —
    the DC prediction modes fall back per spec, directional modes on
    an unavailable edge are an encoder-conformance violation and
    raise."""
    sps = None
    ppss: dict[int, dict] = {}
    pics: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    slice_counts: list[int] = []
    dpb: list = []  # (frame_num, planes) reference pictures
    cur_ref = False
    cur_fnum = 0
    prev_ref_fnum = None  # frame_num of the last reference picture
    y = cb = cr = None
    tc4 = ctc4 = mode4 = mb_done = slice_of = None
    mv4x = mv4y = ref4 = None
    slice_idx = -1
    for nal_bytes in _split_annexb(data):
        nal_type = nal_bytes[0] & 0x1F
        rbsp = _unescape_ebsp(nal_bytes[1:])
        if nal_type == 7:
            sps = _parse_sps(rbsp)
        elif nal_type == 8:
            p_ = _parse_pps(rbsp)
            ppss[p_["pps_id"]] = p_  # parameter-set registry
        elif nal_type in (1, 5):
            if sps is None or not ppss:
                raise ValueError("slice before SPS/PPS")
            r = _BitReader(rbsp)
            stop_bit = _last_set_bit_pos(rbsp)
            first_mb = r.ue()
            slice_type = r.ue()
            if slice_type > 9:
                raise ValueError(
                    f"slice_type {slice_type} out of the spec range "
                    "0..9 (corrupt stream?)"
                )
            st5 = slice_type % 5
            if st5 == 1:
                raise NotImplementedError(
                    "B slices need bi-prediction — not supported"
                )
            if st5 in (3, 4):
                raise NotImplementedError(
                    "SP/SI switching slices not supported"
                )
            is_p = st5 == 0
            if is_p and nal_type == 5:
                raise ValueError(
                    "IDR picture with a P slice (spec 7.4.3: IDR "
                    "pictures carry only I/SI slices)"
                )
            pps_id = r.ue()  # pic_parameter_set_id — selects the PPS
            if pps_id not in ppss:
                raise ValueError(f"slice references unknown PPS {pps_id}")
            pps = ppss[pps_id]
            if is_p and pps["constrained_intra"]:
                # intra-in-P under constrained_intra_pred_flag must
                # treat inter neighbors as unavailable (spec 8.3);
                # this decoder predicts from them — raise rather than
                # decode wrong samples
                raise NotImplementedError(
                    "constrained_intra_pred_flag not supported for "
                    "P slices"
                )
            frame_num = r.u(sps["log2_max_frame_num"])
            if nal_type == 5:
                r.ue()  # idr_pic_id
            if sps["poc_type"] == 0:
                r.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
            if is_p:
                # spec 7.3.3: L0 size override + reordering syntax
                # precede dec_ref_pic_marking for P/SP slices
                n_ref = pps["num_ref_l0"]
                if r.u(1):  # num_ref_idx_active_override_flag
                    n_ref = r.ue() + 1  # num_ref_idx_l0_active_minus1
                if not 1 <= n_ref <= 16:
                    raise ValueError(
                        f"num_ref_idx_l0_active {n_ref} out of the "
                        "spec range 1..16 (corrupt stream?)"
                    )
                mods = []
                if r.u(1):  # ref_pic_list_modification_flag_l0
                    while True:
                        idc = r.ue()  # modification_of_pic_nums_idc
                        if idc == 3:
                            break
                        if idc == 2:
                            raise NotImplementedError(
                                "long-term reference pictures not "
                                "supported"
                            )
                        if idc > 3:
                            raise ValueError(
                                f"modification_of_pic_nums_idc {idc} "
                                "out of range (corrupt stream?)"
                            )
                        mods.append((idc, r.ue()))
                        if len(mods) > 32:
                            raise ValueError(
                                "ref_pic_list_modification runs past "
                                "any conformant list size (corrupt "
                                "stream?)"
                            )
                # pred_weight_table sits between the reordering
                # syntax and dec_ref_pic_marking (spec 7.3.3)
                wt = (
                    _parse_pred_weights(r, n_ref)
                    if pps["weighted_pred"]
                    else None
                )
            if (nal_bytes[0] >> 5) & 3:  # nal_ref_idc != 0
                if nal_type == 5:
                    r.u(1)  # no_output_of_prior_pics_flag
                    r.u(1)  # long_term_reference_flag
                else:
                    if r.u(1):  # adaptive_ref_pic_marking_mode_flag
                        raise NotImplementedError(
                            "adaptive ref-pic marking not supported"
                        )
            qp_y = pps["init_qp"] + r.se()  # slice_qp_delta
            if not 0 <= qp_y <= 51:
                # spec 7.4.3: SliceQP_Y shall be in [-QpBdOffsetY, 51];
                # 8-bit profiles (QpBdOffsetY = 0) pin it to [0, 51]
                raise ValueError(
                    f"SliceQP_Y {qp_y} out of the 8-bit range 0..51"
                )
            # spec 8.7 in-loop deblocking is NOT implemented. The
            # filter defaults ON (flag absent => idc 0), so the only
            # streams this decoder can reproduce bit-exactly are ones
            # that explicitly disable it — accept idc == 1, fail
            # closed on everything else rather than emit pixels a
            # conformant decoder would filter differently.
            if not pps["deblocking_control"] or r.ue() != 1:
                raise NotImplementedError(
                    "in-loop deblocking filter (spec 8.7) not "
                    "implemented: streams must signal "
                    "deblocking_filter_control_present_flag=1 with "
                    "disable_deblocking_filter_idc=1"
                )
            mbs_w, mbs_h = sps["mbs_w"], sps["mbs_h"]
            if first_mb == 0:
                # new picture: emit the previous one, allocate fresh
                if y is not None:
                    if not mb_done.all():
                        raise ValueError(
                            "picture ended with undecoded macroblocks "
                            "(slices do not tile the picture)"
                        )
                    pics.append((y, cb, cr))
                    slice_counts.append(slice_idx + 1)
                    if cur_ref:
                        dpb.append((cur_fnum, (y, cb, cr)))
                        prev_ref_fnum = cur_fnum
                        # sliding-window marking (spec 8.2.5.3):
                        # evict the oldest short-term reference past
                        # Max(max_num_ref_frames, 1) — the spec floor
                        # keeps one reference even when an encoder
                        # signals max_num_ref_frames=0 but still marks
                        # pictures as references; bounds memory on
                        # long tracks and keeps PicNum unambiguous
                        # across frame_num wraps (window <= MaxFrameNum)
                        while len(dpb) > max(sps["max_num_ref"], 1):
                            dpb.pop(0)
                if nal_type == 5:
                    dpb.clear()  # IDR flushes the reference buffer
                    prev_ref_fnum = None
                elif prev_ref_fnum is not None and frame_num not in (
                    prev_ref_fnum,
                    (prev_ref_fnum + 1)
                    % (1 << sps["log2_max_frame_num"]),
                ):
                    # spec 8.2.5.2 frame-gap inference ("non-existing"
                    # reference frames) is unimplemented; decoding on
                    # through a gap would silently build a
                    # mis-numbered DPB and mismatch PicNum in
                    # _reorder_l0 — fail closed instead
                    raise NotImplementedError(
                        f"frame_num gap ({prev_ref_fnum} -> "
                        f"{frame_num}): spec 8.2.5.2 gap inference "
                        "not supported"
                    )
                cur_ref = bool((nal_bytes[0] >> 5) & 3)
                cur_fnum = frame_num
                w, h = mbs_w * 16, mbs_h * 16
                y = np.zeros((h, w), np.uint8)
                cb = np.zeros((h // 2, w // 2), np.uint8)
                cr = np.zeros((h // 2, w // 2), np.uint8)
                # per-4x4-block TotalCoeff context for CAVLC nC
                # derivation (spec 9.2.1): I_PCM blocks count 16;
                # I_16x16 blocks carry their luma AC TotalCoeff (the
                # DC block never contributes to neighbor nC), which
                # is 0 while cbp_luma == 0 even when the DC block is
                # dense; I_4x4 blocks their LumaLevel4x4 TotalCoeff.
                # -1 = not yet decoded. ctc4 is the chroma twin (per
                # plane); mode4 records Intra4x4PredMode for the mode
                # inference of later blocks (-1 = not an I_4x4
                # block). slice_of/mb_done gate every lookup to the
                # current slice.
                tc4 = np.full((mbs_h * 4, mbs_w * 4), -1, np.int32)
                ctc4 = np.full(
                    (2, mbs_h * 2, mbs_w * 2), -1, np.int32
                )
                mode4 = np.full((mbs_h * 4, mbs_w * 4), -1, np.int32)
                mb_done = np.zeros(mbs_w * mbs_h, bool)
                slice_of = np.full(mbs_w * mbs_h, -1, np.int32)
                # per-4x4-block motion state for P slices / MV
                # prediction (partition granularity, spec 6.4.11.7):
                # ref4 -2 = undecoded, -1 = intra, 0 = inter
                mv4x = np.zeros((mbs_h * 4, mbs_w * 4), np.int32)
                mv4y = np.zeros((mbs_h * 4, mbs_w * 4), np.int32)
                ref4 = np.full((mbs_h * 4, mbs_w * 4), -2, np.int32)
                slice_idx = 0
            else:
                if y is None:
                    raise ValueError("slice with first_mb > 0 before "
                                     "a picture-starting slice")
                slice_idx += 1
            if is_p:
                if len(dpb) < n_ref:
                    raise ValueError(
                        f"P slice with {n_ref} active references but "
                        f"only {len(dpb)} decoded reference pictures"
                    )
                ref_list = [
                    e[1]
                    for e in _reorder_l0(
                        dpb, mods, n_ref, frame_num,
                        1 << sps["log2_max_frame_num"],
                    )
                ]

            def _avail_sl(nbr: int) -> bool:
                return mb_done[nbr] and slice_of[nbr] == slice_idx

            mb = first_mb
            while r._pos < stop_bit:
                if mb >= mbs_w * mbs_h:
                    raise ValueError("slice data past the last MB")
                if is_p:
                    # spec 7.3.4: mb_skip_run precedes every coded MB
                    skip_run = r.ue()
                    if mb + skip_run > mbs_w * mbs_h:
                        raise ValueError("mb_skip_run past the last MB")
                    for _ in range(skip_run):
                        sx, sy = mb % mbs_w, mb // mbs_w
                        mvx, mvy = _skip_mv_part(
                            4 * sx, 4 * sy,
                            mv4x, mv4y, ref4, _avail_sl, mbs_w,
                        )
                        _mc_16x16_into(
                            y, cb, cr, *ref_list[0],
                            sx, sy, mvx, mvy, wt, 0,
                        )
                        tc4[
                            4 * sy : 4 * sy + 4, 4 * sx : 4 * sx + 4
                        ] = 0
                        ctc4[
                            :, 2 * sy : 2 * sy + 2, 2 * sx : 2 * sx + 2
                        ] = 0
                        sl4 = np.s_[
                            4 * sy : 4 * sy + 4, 4 * sx : 4 * sx + 4
                        ]
                        mv4x[sl4] = mvx
                        mv4y[sl4] = mvy
                        ref4[sl4] = 0
                        slice_of[mb] = slice_idx
                        mb_done[mb] = True
                        mb += 1
                    if r._pos >= stop_bit:
                        break  # slice ends in a trailing skip run
                    if mb >= mbs_w * mbs_h:
                        raise ValueError(
                            "coded macroblock past the last MB"
                        )
                mb_type = r.ue()
                mbx, mby = mb % mbs_w, mb // mbs_w

                def _avail(nbr: int) -> bool:
                    return (
                        mb_done[nbr] and slice_of[nbr] == slice_idx
                    )

                def _blk(arr, rr: int, cc: int, bs: int) -> int:
                    """Per-block lookup with spec-9.2.1 availability:
                    outside the picture, not yet decoded, or in
                    another slice -> -1."""
                    if (
                        rr < 0 or cc < 0
                        or rr >= arr.shape[0] or cc >= arr.shape[1]
                    ):
                        return -1
                    v = int(arr[rr, cc])
                    if v < 0:
                        return -1
                    omb = (rr // bs) * mbs_w + (cc // bs)
                    return v if (omb == mb or _avail(omb)) else -1

                def _nc(arr, rr: int, cc: int, bs: int) -> int:
                    na = _blk(arr, rr, cc - 1, bs)
                    nb = _blk(arr, rr - 1, cc, bs)
                    if na >= 0 and nb >= 0:
                        return (na + nb + 1) >> 1
                    if na >= 0:
                        return na
                    if nb >= 0:
                        return nb
                    return 0

                def _chroma_residuals(cbp_chroma: int) -> None:
                    """Chroma residual parse + reconstruction shared
                    by I_16x16 and I_4x4: spec 7.3.5.3.3 order (DC Cb,
                    DC Cr, then all Cb AC, then all Cr AC)."""
                    if cbp_chroma == 0:
                        ctc4[
                            :, 2 * mby : 2 * mby + 2,
                            2 * mbx : 2 * mbx + 2,
                        ] = 0
                        return
                    qpc = _qpc_of(qp_y)
                    dcs = [
                        _chroma_dc_scaled(_parse_cavlc_chroma_dc(r), qpc)
                        for _ in range(2)
                    ]
                    acs: list = [[None] * 4, [None] * 4]
                    for pi in range(2):
                        for bk in range(4):
                            rr = 2 * mby + bk // 2
                            cc = 2 * mbx + bk % 2
                            if cbp_chroma == 2:
                                n_c = _nc(ctc4[pi], rr, cc, 2)
                                ac = _parse_residual_4x4(r, n_c, 15)
                                ctc4[pi, rr, cc] = sum(
                                    1 for v in ac if v
                                )
                                acs[pi][bk] = ac
                            else:
                                ctc4[pi, rr, cc] = 0
                    for pi, plane in enumerate((cb, cr)):
                        for bk in range(4):
                            by, bx = 4 * (bk // 2), 4 * (bk % 2)
                            sl_ = np.s_[
                                mby * 8 + by : mby * 8 + by + 4,
                                mbx * 8 + bx : mbx * 8 + bx + 4,
                            ]
                            if cbp_chroma == 2:
                                res = _itransform4x4(
                                    _dequant4x4(
                                        acs[pi][bk], qpc,
                                        dc=int(dcs[pi][bk]),
                                    )
                                )
                            else:
                                res = (dcs[pi][bk] + 32) >> 6
                            plane[sl_] = np.clip(
                                plane[sl_].astype(np.int32) + res,
                                0, 255,
                            )

                inter_mb = False
                if is_p and mb_type <= 4:
                    # Table 7-13: 0 = P_L0_16x16, 1 = P_L0_L0_16x8,
                    # 2 = P_L0_L0_8x16, 3 = P_8x8, 4 = P_8x8ref0
                    # (identical with one active reference: ref_idx
                    # is never coded). Partition tuples:
                    # (shape, partIdx, x-offset, y-offset, w, h)
                    if mb_type == 0:
                        parts = [("16x16", 0, 0, 0, 16, 16)]
                    elif mb_type == 1:
                        parts = [
                            ("16x8", 0, 0, 0, 16, 8),
                            ("16x8", 1, 0, 8, 16, 8),
                        ]
                    elif mb_type == 2:
                        parts = [
                            ("8x16", 0, 0, 0, 8, 16),
                            ("8x16", 1, 8, 0, 8, 16),
                        ]
                    else:
                        # sub_mb_pred (spec 7.3.5.2): four sub_mb_type
                        # elements, then every mvd pair in (8x8 block,
                        # sub-partition) order; sub-partitions use the
                        # general median MVP (no directional
                        # shortcuts, spec 8.4.1.3)
                        parts = []
                        for b8 in range(4):
                            smt = r.ue()
                            if smt > 3:
                                raise ValueError(
                                    f"sub_mb_type {smt} out of the "
                                    "P-slice Table 7-17 range "
                                    "(corrupt stream?)"
                                )
                            ox8, oy8 = 8 * (b8 % 2), 8 * (b8 // 2)
                            for sx, sy, pw, ph in _SUB_MB_GEOM[smt]:
                                parts.append((
                                    "8x8", 0,
                                    ox8 + sx, oy8 + sy, pw, ph,
                                ))
                    # ref_idx_l0 elements (spec 7.3.5.1 / 7.3.5.2):
                    # one te(v) per partition for mb_type 0-2, one
                    # per 8x8 block for P_8x8; absent entirely with a
                    # single active reference and for P_8x8ref0
                    # (every refIdx inferred 0). All ref_idx parse
                    # before all mvd pairs.
                    if mb_type <= 2:
                        unit_of = list(range(len(parts)))
                        n_units = len(parts)
                    else:
                        unit_of = [
                            2 * (oy >= 8) + (ox >= 8)
                            for (_s, _i, ox, oy, _w, _h) in parts
                        ]
                        n_units = 4
                    if n_ref > 1 and mb_type != 4:
                        unit_ref = [
                            _read_te(r, n_ref - 1)
                            for _ in range(n_units)
                        ]
                        if any(u >= n_ref for u in unit_ref):
                            raise ValueError(
                                "ref_idx_l0 past the active reference "
                                "list (corrupt stream?)"
                            )
                    else:
                        unit_ref = [0] * n_units
                    mvds = [(r.se(), r.se()) for _ in parts]

                    def _avail_cur(o: int) -> bool:
                        # the current MB's own earlier partitions are
                        # visible to later ones (spec 6.4.11.7)
                        return o == mb or _avail_sl(o)

                    for k_, ((shp, pidx, ox, oy, pw, ph), (dx_, dy_)) \
                            in enumerate(zip(parts, mvds)):
                        ridx = unit_ref[unit_of[k_]]
                        bx = 4 * mbx + ox // 4
                        by = 4 * mby + oy // 4
                        pmx, pmy = _mvp_part(
                            bx, by, pw // 4, ph // 4, shp, pidx,
                            mv4x, mv4y, ref4, _avail_cur, mbs_w,
                            cur_ref=ridx,
                        )
                        mvx, mvy = pmx + dx_, pmy + dy_
                        _mc_part_into(
                            y, cb, cr, *ref_list[ridx],
                            16 * mbx + ox, 16 * mby + oy,
                            pw, ph, mvx, mvy, wt, ridx,
                        )
                        sl4 = np.s_[
                            by : by + ph // 4, bx : bx + pw // 4
                        ]
                        mv4x[sl4] = mvx
                        mv4y[sl4] = mvy
                        ref4[sl4] = ridx
                    cbp_code = r.ue()  # me(v), Table 9-4 INTER column
                    if cbp_code > 47:
                        raise ValueError(
                            f"coded_block_pattern codeNum {cbp_code} "
                            "out of Table 9-4 range (corrupt stream?)"
                        )
                    cbp = _CBP_INTER[cbp_code]
                    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
                    if cbp:
                        qp_y = (qp_y + r.se() + 52) % 52
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        if cbp_luma & (1 << (blk // 4)):
                            n_c = _nc(tc4, r4, c4, 4)
                            lv = _parse_residual_4x4(r, n_c, 16)
                            tc4[r4, c4] = sum(1 for v in lv if v)
                            if any(lv):
                                res = _itransform4x4(
                                    _dequant4x4(lv, qp_y)
                                )
                                sl_ = np.s_[
                                    4 * r4 : 4 * r4 + 4,
                                    4 * c4 : 4 * c4 + 4,
                                ]
                                y[sl_] = np.clip(
                                    y[sl_].astype(np.int32) + res,
                                    0, 255,
                                )
                        else:
                            tc4[r4, c4] = 0
                    _chroma_residuals(cbp_chroma)
                    inter_mb = True
                elif is_p:
                    # Table 7-13: intra mb_types in P slices are
                    # offset by 5 past the P types
                    mb_type -= 5

                if inter_mb:
                    pass
                elif mb_type == 25:  # I_PCM
                    r.byte_align()
                    yb = np.frombuffer(r.raw_bytes(256), np.uint8)
                    cbb = np.frombuffer(r.raw_bytes(64), np.uint8)
                    crb = np.frombuffer(r.raw_bytes(64), np.uint8)
                    y[
                        mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16
                    ] = yb.reshape(16, 16)
                    cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                        cbb.reshape(8, 8)
                    )
                    cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                        crb.reshape(8, 8)
                    )
                    tc4[
                        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                    ] = 16
                    ctc4[
                        :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                    ] = 16
                elif mb_type == 0:  # I_4x4 (I_NxN, baseline: no 8x8)
                    # per-block mode syntax (spec 7.3.5.1 + 8.3.1.1
                    # mode inference from min(left, above))
                    blk_modes = []
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        am = _mb_of4(r4, c4 - 1, mbs_w)
                        bm = _mb_of4(r4 - 1, c4, mbs_w)
                        avail_a = c4 > 0 and (
                            am == mb or _avail(am)
                        )
                        avail_b = r4 > 0 and (
                            bm == mb or _avail(bm)
                        )
                        if not (avail_a and avail_b):
                            pred = 2
                        else:
                            ma = int(mode4[r4, c4 - 1])
                            mb_ = int(mode4[r4 - 1, c4])
                            pred = min(
                                ma if ma >= 0 else 2,
                                mb_ if mb_ >= 0 else 2,
                            )
                        if r.u(1):  # prev_intra4x4_pred_mode_flag
                            mode = pred
                        else:
                            rem = r.u(3)
                            mode = rem if rem < pred else rem + 1
                        blk_modes.append(mode)
                        # spec 8.3.1.1 derives Intra4x4PredMode
                        # SEQUENTIALLY: later blocks of this same MB
                        # infer from this block's actual mode
                        mode4[r4, c4] = mode
                    chroma_mode = r.ue()  # intra_chroma_pred_mode
                    if chroma_mode > 3:
                        raise ValueError(
                            f"intra_chroma_pred_mode {chroma_mode} "
                            "out of range 0..3 (corrupt stream?)"
                        )
                    cbp_code = r.ue()  # me(v), Table 9-4
                    if cbp_code > 47:
                        raise ValueError(
                            f"coded_block_pattern codeNum {cbp_code} "
                            "out of Table 9-4 range (corrupt stream?)"
                        )
                    cbp = _CBP_INTRA[cbp_code]
                    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
                    if cbp:
                        qp_y = (qp_y + r.se() + 52) % 52
                    # luma: per-block residual parse + prediction +
                    # reconstruction interleaved in luma4x4BlkIdx
                    # order (neighbors of a block decode before it)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        if cbp_luma & (1 << (blk // 4)):
                            n_c = _nc(tc4, r4, c4, 4)
                            lv = _parse_residual_4x4(r, n_c, 16)
                        else:
                            lv = [0] * 16
                        pred = _predict_4x4_block(
                            y, r4, c4, blk_modes[blk],
                            _blk(tc4, r4, c4 - 1, 4) >= 0,
                            _blk(tc4, r4 - 1, c4, 4) >= 0,
                            _blk(tc4, r4 - 1, c4 - 1, 4) >= 0,
                            _blk(tc4, r4 - 1, c4 + 1, 4) >= 0,
                        )
                        if any(lv):
                            res = _itransform4x4(_dequant4x4(lv, qp_y))
                            pred = pred + res
                        y[
                            4 * r4 : 4 * r4 + 4, 4 * c4 : 4 * c4 + 4
                        ] = np.clip(pred, 0, 255)
                        tc4[r4, c4] = sum(1 for v in lv if v)
                    mb_left_ok = mbx > 0 and _avail(mb - 1)
                    mb_top_ok = mby > 0 and _avail(mb - mbs_w)
                    _predict_chroma8x8(
                        cb, mbx, mby, chroma_mode, mb_top_ok,
                        mb_left_ok,
                    )
                    _predict_chroma8x8(
                        cr, mbx, mby, chroma_mode, mb_top_ok,
                        mb_left_ok,
                    )
                    _chroma_residuals(cbp_chroma)
                elif 1 <= mb_type <= 24:  # I_16x16 family (Table 7-11)
                    pred_mode = (mb_type - 1) % 4
                    cbp_chroma = ((mb_type - 1) // 4) % 3
                    cbp_luma = 15 if mb_type - 1 >= 12 else 0
                    chroma_mode = r.ue()  # intra_chroma_pred_mode
                    if chroma_mode > 3:
                        raise ValueError(
                            f"intra_chroma_pred_mode {chroma_mode} "
                            "out of range 0..3 (corrupt stream?)"
                        )
                    # mb_qp_delta (always present here): spec 7.4.5
                    # accumulates with a mod-52 wrap at 8-bit depth —
                    # QP_Y = ((QP_Y,prev + delta + 52) % 52)
                    qp_y = (qp_y + r.se() + 52) % 52
                    # Intra16x16DCLevel is always parsed: CAVLC
                    # coeff_token with nC from SAME-SLICE per-4x4
                    # neighbors of luma 4x4 block 0 (spec 9.2.1)
                    left_ok = mbx > 0 and _avail(mb - 1)
                    top_ok = mby > 0 and _avail(mb - mbs_w)
                    n_c = _nc(tc4, 4 * mby, 4 * mbx, 4)
                    dc_zz = _parse_cavlc_luma_dc(r, n_c)
                    # Intra16x16ACLevel blocks (cbp_luma is 0 or 15
                    # for I_16x16 by Table 7-11 construction)
                    ac_blocks = [None] * 16
                    if cbp_luma:
                        for blk in range(16):
                            bi, bj = _BLK4_POS[blk]
                            r4, c4 = 4 * mby + bi, 4 * mbx + bj
                            n_c = _nc(tc4, r4, c4, 4)
                            ac = _parse_residual_4x4(r, n_c, 15)
                            ac_blocks[blk] = ac
                            tc4[r4, c4] = sum(1 for v in ac if v)
                    else:
                        tc4[
                            4 * mby : 4 * mby + 4,
                            4 * mbx : 4 * mbx + 4,
                        ] = 0
                    _predict_16x16(
                        y, mbx, mby, pred_mode, top_ok, left_ok
                    )
                    _predict_chroma8x8(
                        cb, mbx, mby, chroma_mode, top_ok, left_ok
                    )
                    _predict_chroma8x8(
                        cr, mbx, mby, chroma_mode, top_ok, left_ok
                    )
                    if cbp_luma:
                        # full reconstruction: each block's scaled DC
                        # (spec 8.5.10) lands at d[0][0] of its 4x4
                        # inverse core transform beside the AC levels
                        dcy = _luma_dc_scaled(dc_zz, qp_y)
                        for blk in range(16):
                            bi, bj = _BLK4_POS[blk]
                            y0_ = mby * 16 + 4 * bi
                            x0_ = mbx * 16 + 4 * bj
                            res = _itransform4x4(
                                _dequant4x4(
                                    ac_blocks[blk], qp_y,
                                    dc=int(dcy[bi, bj]),
                                )
                            )
                            sub = y[
                                y0_ : y0_ + 4, x0_ : x0_ + 4
                            ].astype(np.int32)
                            y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                                sub + res, 0, 255
                            )
                    elif any(dc_zz):
                        # DC-only reconstruction: inverse Hadamard +
                        # scaling gives one uniform residual per 4x4
                        # block (AC all zero here), added clipped
                        res = _luma_dc_residuals(dc_zz, qp_y)
                        for bi in range(4):
                            for bj in range(4):
                                y0_, x0_ = mby * 16 + 4 * bi, mbx * 16 + 4 * bj
                                sub = y[
                                    y0_ : y0_ + 4, x0_ : x0_ + 4
                                ].astype(np.int32)
                                y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                                    sub + int(res[bi, bj]), 0, 255
                                )
                    _chroma_residuals(cbp_chroma)
                else:
                    raise NotImplementedError(
                        f"mb_type {mb_type} (I_8x8 / out of I-slice "
                        "range): transform_size_8x8 is a High-profile "
                        "tool — out of baseline subset scope"
                    )
                if not inter_mb:
                    # intra / I_PCM macroblock: available for MV
                    # prediction with refIdx -1 and a zero vector
                    ref4[
                        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                    ] = -1
                slice_of[mb] = slice_idx
                mb_done[mb] = True
                mb += 1
            if r.u(1) != 1:
                raise ValueError("missing rbsp stop bit after slice data")
    if y is None:
        raise ValueError("no slice NAL in stream")
    if not mb_done.all():
        raise ValueError(
            "picture ended with undecoded macroblocks "
            "(slices do not tile the picture)"
        )
    pics.append((y, cb, cr))
    slice_counts.append(slice_idx + 1)
    return pics, sps, slice_counts


def decode_h264_iframe(
    data: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Decode a single-picture Annex-B stream (the notch-1..5 gate
    surface). Thin wrapper over ``decode_h264_stream``; raises if the
    stream carries more than one picture."""
    pics, sps = decode_h264_stream(data)
    if len(pics) != 1:
        raise ValueError(f"expected one picture, stream has {len(pics)}")
    y, cb, cr = pics[0]
    return y, cb, cr, sps


# ---------------------------------------------------------------------
# synthetic fixture + gate query
# ---------------------------------------------------------------------

_N_CLIPS = 24


def _fixture_planes(i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic 4:2:0 planes for media ``i`` — each plane's
    samples are a linear-congruential function of the MB-write index,
    so the oracle recomputes sums/checksums without decoding. Values
    hit 0 often enough (mod-256 cycles) that emulation-prevention
    escapes are genuinely exercised in the encoded stream."""
    w = 16 * (1 + i % 3)
    h = 16 * (1 + i % 2)
    mbs_w = w // 16
    y = np.zeros((h, w), np.uint8)
    cb = np.zeros((h // 2, w // 2), np.uint8)
    cr = np.zeros((h // 2, w // 2), np.uint8)
    ky = kc = 0
    for mb in range((w // 16) * (h // 16)):
        mbx, mby = mb % mbs_w, mb // mbs_w
        for r_ in range(16):
            for c_ in range(16):
                # 4-sample runs (k div 4) so a zero value yields
                # 00 00 00 00 in the payload — emulation-prevention
                # escapes are genuinely exercised
                y[mby * 16 + r_, mbx * 16 + c_] = (
                    7 * i + 13 * (ky // 4)
                ) % 256
                ky += 1
        for r_ in range(8):
            for c_ in range(8):
                cb[mby * 8 + r_, mbx * 8 + c_] = (11 * i + 17 * kc) % 256
                cr[mby * 8 + r_, mbx * 8 + c_] = (19 * i + 23 * kc) % 256
                kc += 1
    return y, cb, cr


def synthetic_h264_media(spark: SparkSession, n: int = _N_CLIPS) -> DataFrame:
    """(media_id, payload) — real Annex-B H.264 I_PCM streams."""
    rows = []
    for i in range(n):
        y, cb, cr = _fixture_planes(i)
        rows.append((i, bytearray(encode_ipcm_annexb(y, cb, cr))))
    return spark.createDataFrame(rows, "media_id long, payload binary")


_H264_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_mbs", T.LongType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
        T.StructField("ck_y", T.LongType()),
    ]
)


def h264_frame_stats(media: DataFrame) -> DataFrame:
    """Decode each payload's I-frame and emit exact integer plane
    statistics + the order-sensitive MB-write-order luma checksum."""

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _H264_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                y, cb, cr, sps = decode_h264_iframe(bytes(payload))
                h, w = y.shape
                mbs_w = sps["mbs_w"]
                ck = _frame_ck(y, mbs_w, sps["mbs_h"])
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_mbs"].append(mbs_w * sps["mbs_h"])
                out["sum_y"].append(int(y.sum()))
                out["sum_cb"].append(int(cb.sum()))
                out["sum_cr"].append(int(cr.sum()))
                out["ck_y"].append(ck)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, _H264_SCHEMA)


def q_h264_ipcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 real Annex-B H.264 I_PCM streams (NAL
    framing, emulation-prevention unescape, Exp-Golomb SPS/PPS/slice
    parse, macroblock reconstruction) — plane sums and the
    MB-write-order checksum under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_media(spark)), "media_id"
    )


# ---------------------------------------------------------------------
# Notch 2: mixed I_PCM / intra-predicted I_16x16 streams
# ---------------------------------------------------------------------


def _write_chroma_dc_level(w_: _BitWriter, level: int) -> None:
    """One-coefficient (scan position 0) 2x2 chroma DC block."""
    if level == 0:
        w_.u(1, 2)  # coeff_token (0,0) = '01'
        return
    if abs(level) == 1:
        w_.u(1, 1)  # coeff_token (1,1) = '1'
        w_.u(0 if level > 0 else 1, 1)  # trailing-one sign
    else:
        w_.u(7, 6)  # coeff_token (0,1) = '000111'
        level_code = (2 * level - 2 if level > 0 else -2 * level - 1)
        level_code -= 2  # first-coefficient rule (T1s < 3)
        w_.u(0, level_code)  # level_prefix zeros
        w_.u(1, 1)
    w_.u(1, 1)  # total_zeros = 0 ('1' in the TC=1 2x2 table)


def _write_luma_dc_block(sl: _BitWriter, ldc: list[int], n_c: int) -> None:
    """Dense 16-coefficient Intra16x16DCLevel block (notch-4 syntax):
    FLC coeff_token (requires the nC >= 8 class — the fixtures
    guarantee an I_PCM neighbor), trailing-one signs, level machinery.
    No total_zeros/run_before exist at TotalCoeff == 16."""
    assert n_c >= 8, "dense DC block outside the FLC class"
    assert all(v != 0 for v in ldc)
    dec = [ldc[15 - k] for k in range(16)]
    t1s = 0
    for lvl in dec:
        if abs(lvl) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    sl.u(4 * 15 + t1s, 6)
    _write_levels(sl, dec, 16, t1s)


def encode_mixed_annexb(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    cls: np.ndarray,
    chroma_dc: np.ndarray | None = None,
    qp: int = 26,
    luma_dc: np.ndarray | None = None,
    modes: np.ndarray | None = None,
) -> bytes:
    """Annex-B stream whose macroblocks are I_PCM where ``cls`` is 0
    and I_16x16 where 1 (default Vertical luma + Vertical chroma,
    zero residual; ``modes`` overrides per MB with (luma_mode,
    chroma_mode) pairs — luma V/H/DC/Plane 0-3, chroma DC/H/V/Plane
    0-3). PCM samples are read from the plane arrays; predicted MBs
    emit only syntax (mb_type from Table 7-11, chroma mode, qp delta,
    and the CAVLC coeff_token syntax for the always-present
    Intra16x16DCLevel block, in the real nC context)."""
    h, w = y.shape
    mbs_w, mbs_h = w // 16, h // 16

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
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

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF
    tc = np.full(mbs_w * mbs_h, -1, np.int32)
    for mb in range(mbs_w * mbs_h):
        mbx, mby = mb % mbs_w, mb // mbs_w
        if cls[mb] == 0:
            sl.ue(25)
            sl.align_zero()
            sl.raw_bytes(
                y[mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16]
                .astype(np.uint8).tobytes()
            )
            sl.raw_bytes(
                cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                .astype(np.uint8).tobytes()
            )
            sl.raw_bytes(
                cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                .astype(np.uint8).tobytes()
            )
            tc[mb] = 16
        else:
            cdc = (
                (int(chroma_dc[mb][0]), int(chroma_dc[mb][1]))
                if chroma_dc is not None
                else (0, 0)
            )
            has_cdc = cdc != (0, 0)
            lm, cm = (
                (int(modes[mb][0]), int(modes[mb][1]))
                if modes is not None
                else (0, 2)  # Vertical luma, Vertical chroma
            )
            # Table 7-11: mb_type - 1 = 12*cbp_luma_bit + 4*cbp_chroma
            # + pred_mode
            sl.ue((4 if has_cdc else 0) + lm + 1)
            sl.ue(cm)  # intra_chroma_pred_mode
            sl.se(0)  # mb_qp_delta
            n_a = tc[mb - 1] if mbx > 0 else -1
            n_b = tc[mb - mbs_w] if mby > 0 else -1
            if n_a >= 0 and n_b >= 0:
                n_c = (n_a + n_b + 1) >> 1
            elif n_a >= 0:
                n_c = n_a
            elif n_b >= 0:
                n_c = n_b
            else:
                n_c = 0
            ldc = (
                [int(v) for v in luma_dc[mb]]
                if luma_dc is not None
                else [0] * 16
            )
            if any(ldc):
                _write_luma_dc_block(sl, ldc, n_c)
            elif n_c < 2:
                sl.u(1, 1)
            elif n_c < 4:
                sl.u(3, 2)
            elif n_c < 8:
                sl.u(15, 4)
            else:
                sl.u(3, 6)
            if has_cdc:
                _write_chroma_dc_level(sl, cdc[0])
                _write_chroma_dc_level(sl, cdc[1])
            tc[mb] = 0
    sl.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return b"\x00\x00\x00\x01" + header + _escape_ebsp(w_.tobytes())

    return nal(3, 7, sps) + nal(3, 8, pps) + nal(3, 5, sl)


def _fixture_mixed(i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Expected reconstruction for mixed clip ``i``: every MB slot has
    addressable PCM formula values (luma k = mb·256 + offset, chroma
    kc = mb·64 + offset — the notch-1 formulas); interior MBs
    (mbx > 0 AND mby > 0) are then overwritten by Vertical prediction
    from the row above (always a PCM MB here: mbs_h ≤ 2, so a
    predicted MB's top neighbor has mby = 0)."""
    w = 16 * (1 + i % 3)
    h = 16 * (1 + i % 2)
    mbs_w, mbs_h = w // 16, h // 16
    y = np.zeros((h, w), np.uint8)
    cb = np.zeros((h // 2, w // 2), np.uint8)
    cr = np.zeros((h // 2, w // 2), np.uint8)
    cls = np.zeros(mbs_w * mbs_h, np.int32)
    for mb in range(mbs_w * mbs_h):
        mbx, mby = mb % mbs_w, mb // mbs_w
        for o in range(256):
            r_, c_ = o // 16, o % 16
            y[mby * 16 + r_, mbx * 16 + c_] = (
                7 * i + 13 * ((mb * 256 + o) // 4)
            ) % 256
        for o in range(64):
            r_, c_ = o // 8, o % 8
            cb[mby * 8 + r_, mbx * 8 + c_] = (11 * i + 17 * (mb * 64 + o)) % 256
            cr[mby * 8 + r_, mbx * 8 + c_] = (19 * i + 23 * (mb * 64 + o)) % 256
        if mbx > 0 and mby > 0:
            cls[mb] = 1
    for mb in range(mbs_w * mbs_h):
        if cls[mb]:
            mbx, mby = mb % mbs_w, mb // mbs_w
            y[mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16] = y[
                mby * 16 - 1, mbx * 16 : mbx * 16 + 16
            ][None, :]
            for pl in (cb, cr):
                pl[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = pl[
                    mby * 8 - 1, mbx * 8 : mbx * 8 + 8
                ][None, :]
    return y, cb, cr, cls


def synthetic_h264_intra_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = []
    for i in range(n):
        y, cb, cr, cls = _fixture_mixed(i)
        rows.append(
            (i, bytearray(encode_mixed_annexb(y, cb, cr, cls)))
        )
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_intra_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 mixed I_PCM / intra-predicted I_16x16
    streams — Vertical luma + chroma prediction from reconstructed
    PCM neighbor edges, CAVLC zero-coeff_token parse in the real nC
    context — plane sums and the MB-order checksum under the hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_intra_media(spark)), "media_id"
    )


# ---------------------------------------------------------------------
# Notch 3: chroma-DC CAVLC residuals (entropy-coded reconstruction)
# ---------------------------------------------------------------------

_N3_QP = 40  # QPy; QPc = 36 via Table 8-15 -> dcC = 20 * level


def _n3_levels(i: int) -> tuple[int, int]:
    """Per-clip chroma DC levels: Cb positive (level decode path,
    |L| >= 2), Cr negative (odd levelCode branch)."""
    return 2 + i % 5, -(2 + i % 3)


def _n3_residuals(i: int, qp: int = _N3_QP) -> tuple[int, int]:
    """Uniform per-8x8 chroma residuals for clip ``i`` — independent
    closed form for the oracle generator: dcC = (L·LS[QPc%6] <<
    QPc div 6) >> 5 then floor((dcC + 32) / 64). At QP 40 (QPc 36,
    LS 10) that is 20·L; at QP 28 (QPc 28, LS 16) it is 8·L — the
    below-30 identity branch of Table 8-15."""
    qpc = qp if qp < 30 else _QPC_TABLE[qp]
    ls = _LS00[qpc % 6]
    l_cb, l_cr = _n3_levels(i)
    return (
        (((l_cb * ls << (qpc // 6)) >> 5) + 32) >> 6,
        (((l_cr * ls << (qpc // 6)) >> 5) + 32) >> 6,
    )


def _fixture_notch3(i: int):
    """Like ``_fixture_mixed`` but every predicted MB carries a
    chroma-DC residual: after Vertical prediction, both chroma planes
    shift by the clip's uniform residual (clipped to [0, 255])."""
    y, cb, cr, cls = _fixture_mixed(i)
    r_cb, r_cr = _n3_residuals(i)
    mbs_w = y.shape[1] // 16
    n_mbs = len(cls)
    cdc = np.zeros((n_mbs, 2), np.int32)
    l_cb, l_cr = _n3_levels(i)
    for mb in range(n_mbs):
        if cls[mb]:
            cdc[mb] = (l_cb, l_cr)
            mbx, mby = mb % mbs_w, mb // mbs_w
            for pl, r_ in ((cb, r_cb), (cr, r_cr)):
                sub = pl[
                    mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                ].astype(np.int32)
                pl[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                    np.clip(sub + r_, 0, 255)
                )
    return y, cb, cr, cls, cdc


def synthetic_h264_cavlc_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = []
    for i in range(n):
        y, cb, cr, cls, cdc = _fixture_notch3(i)
        rows.append(
            (
                i,
                bytearray(
                    encode_mixed_annexb(
                        y, cb, cr, cls, chroma_dc=cdc, qp=_N3_QP
                    )
                ),
            )
        )
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_cavlc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 streams whose predicted macroblocks carry
    entropy-coded chroma-DC residuals — real CAVLC coeff_token /
    trailing-one / level-prefix decode, 2x2 inverse Hadamard, QP-to-
    chroma-QP scaling, and clipped reconstruction — plane sums and
    the MB-order luma checksum under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_cavlc_media(spark)), "media_id"
    )


def _sql_h264_cavlc() -> str:
    r_cb_list = [(_n3_residuals(i))[0] for i in range(_N_CLIPS)]
    r_cr_list = [(_n3_residuals(i))[1] for i in range(_N_CLIPS)]
    y_v = "(7 * media_id + 13 * ((mb * 256 + o.o) // 4)) % 256"
    y_top = (
        "(7 * media_id + 13 * (((mb - mbs_w) * 256 + 240 + c.c) // 4))"
        " % 256"
    )
    cb_v = "(11 * media_id + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * media_id + 23 * (mb * 64 + o.o)) % 256"
    cb_top = (
        "LEAST(255, GREATEST(0,"
        " (11 * media_id + 17 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
        " + r_cb))"
    )
    cr_top = (
        "LEAST(255, GREATEST(0,"
        " (19 * media_id + 23 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
        " + r_cr))"
    )
    return f"""
WITH clip AS (
  SELECT i AS media_id, 1 + i % 3 AS mbs_w, 1 + i % 2 AS mbs_h,
         rcb.r AS r_cb, rcr.r AS r_cr
  FROM range({_N_CLIPS}) t(i)
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({r_cb_list!r}) AS r) rcb ON rcb.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({r_cr_list!r}) AS r) rcr ON rcr.j = i
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, r_cb, r_cr, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM clip, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma_pcm AS (
  SELECT media_id,
         SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
luma_pred AS (
  SELECT media_id,
         16 * SUM({y_top}) AS s,
         SUM(({y_top}) * (16 * (mb * 256 + c.c + 1) + 1920)) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(16)) AS c) c
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
),
chroma_pcm AS (
  SELECT media_id, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
chroma_pred AS (
  SELECT media_id, 8 * SUM({cb_top}) AS scb, 8 * SUM({cr_top}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(8)) AS c) c
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
)
SELECT c.media_id,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + COALESCE(lr.s, 0) AS BIGINT) AS sum_y,
       CAST(cp.scb + COALESCE(cr2.scb, 0) AS BIGINT) AS sum_cb,
       CAST(cp.scr + COALESCE(cr2.scr, 0) AS BIGINT) AS sum_cr,
       CAST((lp.ck + COALESCE(lr.ck, 0)) % {_CK_MOD} AS BIGINT) AS ck_y
FROM clip c
JOIN luma_pcm lp ON lp.media_id = c.media_id
LEFT JOIN luma_pred lr ON lr.media_id = c.media_id
JOIN chroma_pcm cp ON cp.media_id = c.media_id
LEFT JOIN chroma_pred cr2 ON cr2.media_id = c.media_id
ORDER BY c.media_id
"""


SQL_H264_CAVLC_DECODE = _sql_h264_cavlc()


def _sql_h264_intra() -> str:
    # PCM formulas (k = mb·256 + o luma; kc = mb·64 + o chroma)
    y_v = "(7 * media_id + 13 * ((mb * 256 + o.o) // 4)) % 256"
    # predicted MB's top edge = row 15 of the MB above (o = 240 + c)
    y_top = (
        "(7 * media_id + 13 * (((mb - mbs_w) * 256 + 240 + c.c) // 4))"
        " % 256"
    )
    cb_v = "(11 * media_id + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * media_id + 23 * (mb * 64 + o.o)) % 256"
    cb_top = "(11 * media_id + 17 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
    cr_top = "(19 * media_id + 23 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
    return f"""
WITH clip AS (
  SELECT i AS media_id, 1 + i % 3 AS mbs_w, 1 + i % 2 AS mbs_h
  FROM range({_N_CLIPS}) t(i)
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM clip, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma_pcm AS (
  SELECT media_id,
         SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
luma_pred AS (
  SELECT media_id,
         16 * SUM({y_top}) AS s,
         SUM(({y_top}) * (16 * (mb * 256 + c.c + 1) + 1920)) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(16)) AS c) c
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
),
chroma_pcm AS (
  SELECT media_id, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
chroma_pred AS (
  SELECT media_id, 8 * SUM({cb_top}) AS scb, 8 * SUM({cr_top}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(8)) AS c) c
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
)
SELECT c.media_id,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + COALESCE(lr.s, 0) AS BIGINT) AS sum_y,
       CAST(cp.scb + COALESCE(cr2.scb, 0) AS BIGINT) AS sum_cb,
       CAST(cp.scr + COALESCE(cr2.scr, 0) AS BIGINT) AS sum_cr,
       CAST((lp.ck + COALESCE(lr.ck, 0)) % {_CK_MOD} AS BIGINT) AS ck_y
FROM clip c
JOIN luma_pcm lp ON lp.media_id = c.media_id
LEFT JOIN luma_pred lr ON lr.media_id = c.media_id
JOIN chroma_pcm cp ON cp.media_id = c.media_id
LEFT JOIN chroma_pred cr2 ON cr2.media_id = c.media_id
ORDER BY c.media_id
"""


SQL_H264_INTRA_DECODE = _sql_h264_intra()


# The oracle recomputes the fixture's closed-form statistics: luma
# sample k (MB write order) of media i is (7i + 13·(k div 4)) % 256,
# chroma analogously — so sums and the order-sensitive checksum need
# only integer arithmetic over UNNEST(range(n)).
SQL_H264_IPCM_DECODE = f"""
WITH clip AS (
  SELECT i AS media_id,
         16 * (1 + i % 3) AS width,
         16 * (1 + i % 2) AS height
  FROM range({_N_CLIPS}) t(i)
),
luma AS (
  SELECT media_id,
         SUM((7 * media_id + 13 * (k.k // 4)) % 256) AS sum_y,
         SUM((k.k + 1) * ((7 * media_id + 13 * (k.k // 4)) % 256))
           % {_CK_MOD} AS ck_y
  FROM clip, LATERAL (
    SELECT UNNEST(range(width * height)) AS k) k
  GROUP BY media_id
),
chroma AS (
  SELECT media_id,
         SUM((11 * media_id + 17 * k.k) % 256) AS sum_cb,
         SUM((19 * media_id + 23 * k.k) % 256) AS sum_cr
  FROM clip, LATERAL (
    SELECT UNNEST(range(width * height // 4)) AS k) k
  GROUP BY media_id
)
SELECT c.media_id,
       CAST(c.width AS INT) AS width,
       CAST(c.height AS INT) AS height,
       CAST(c.width * c.height // 256 AS BIGINT) AS n_mbs,
       CAST(l.sum_y AS BIGINT) AS sum_y,
       CAST(ch.sum_cb AS BIGINT) AS sum_cb,
       CAST(ch.sum_cr AS BIGINT) AS sum_cr,
       CAST(l.ck_y AS BIGINT) AS ck_y
FROM clip c
JOIN luma l ON l.media_id = c.media_id
JOIN chroma ch ON ch.media_id = c.media_id
ORDER BY c.media_id
"""


# ---------------------------------------------------------------------
# Notch 4: entropy-coded luma-DC residuals (dense Intra16x16DCLevel)
# ---------------------------------------------------------------------

_H4_LIST = [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]]


def _n4_dc_zz(i: int) -> list[int]:
    """Per-clip Intra16x16DCLevel coefficients in zig-zag order: scan
    positions 0..12 carry magnitudes 2..4 with alternating signs (the
    level_prefix/suffix machinery incl. both suffix-length growth
    steps), positions 13..15 are ±1 (TrailingOnes = 3, sign bits)."""
    out = []
    for p in range(13):
        mag = 2 + (i + p) % 3
        out.append(mag if (i + p) % 2 == 0 else -mag)
    for p in range(13, 16):
        out.append(1 if (i + p) % 2 == 0 else -1)
    return out


def _n4_block_residuals(i: int, qp: int = _N3_QP) -> list[int]:
    """Independent closed form for the oracle generator: inverse 4x4
    Hadamard of the clip's zig-zag DC levels, spec-8.5.10 luma-DC
    scaling at ``qp`` (the >= 36 shift branch at QP 40: dcY = 16·f;
    the rounding branch below 36, e.g. QP 28: dcY = (16·f + 2) >> 2),
    DC-only block residual (dcY + 32) >> 6. Returns 16 residuals in
    (block row, block col) raster order — explicit loops, not the
    decoder's numpy path."""
    zz = _n4_dc_zz(i)
    c = [[0] * 4 for _ in range(4)]
    for k, (r_, c_) in enumerate(_ZZ4):
        c[r_][c_] = zz[k]
    ls = _LS00[qp % 6]
    out = []
    for bi in range(4):
        for bj in range(4):
            f = sum(
                _H4_LIST[bi][k] * c[k][l] * _H4_LIST[l][bj]
                for k in range(4)
                for l in range(4)
            )
            if qp >= 36:
                dc = (f * ls) << (qp // 6 - 6)
            else:
                dc = (f * ls + (1 << (5 - qp // 6))) >> (6 - qp // 6)
            out.append((dc + 32) >> 6)
    return out


def _fixture_notch4(i: int):
    """Notch-3 planes + per-4x4-block luma-DC residuals on every
    predicted MB (clipped add after Vertical prediction)."""
    y, cb, cr, cls, cdc = _fixture_notch3(i)
    mbs_w = y.shape[1] // 16
    n_mbs = len(cls)
    ldc = np.zeros((n_mbs, 16), np.int32)
    zz = _n4_dc_zz(i)
    res = _n4_block_residuals(i)
    for mb in range(n_mbs):
        if cls[mb]:
            ldc[mb] = zz
            mbx, mby = mb % mbs_w, mb // mbs_w
            for bi in range(4):
                for bj in range(4):
                    y0_, x0_ = mby * 16 + 4 * bi, mbx * 16 + 4 * bj
                    sub = y[y0_ : y0_ + 4, x0_ : x0_ + 4].astype(np.int32)
                    y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                        sub + res[bi * 4 + bj], 0, 255
                    )
    return y, cb, cr, cls, cdc, ldc


def synthetic_h264_lumadc_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = []
    for i in range(n):
        y, cb, cr, cls, cdc, ldc = _fixture_notch4(i)
        rows.append(
            (
                i,
                bytearray(
                    encode_mixed_annexb(
                        y, cb, cr, cls,
                        chroma_dc=cdc, qp=_N3_QP, luma_dc=ldc,
                    )
                ),
            )
        )
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_lumadc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 streams whose predicted macroblocks carry
    DENSE entropy-coded luma-DC blocks (all 16 Intra16x16DCLevel
    coefficients nonzero) on top of notch 3's chroma-DC residuals —
    the 6-bit FLC coeff_token class, TrailingOnes sign bits, the full
    level_prefix/suffix state machine with both suffix-length growth
    steps, 4x4 inverse Hadamard, spec-8.5.10 luma-DC scaling, and
    per-4x4-block clipped reconstruction — plane sums and the
    MB-order luma checksum under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_lumadc_media(spark)), "media_id"
    )


def _sql_h264_lumadc() -> str:
    """Notch-3 oracle skeleton with the luma-predicted CTE extended by
    the per-clip 16-entry block-residual lookup: sample (row, col) of
    a predicted MB adds residual r_y[4·(row div 4) + col div 4] to the
    Vertical prediction, clipped — rows within a block-row share
    values, so the 256-sample MB collapses to 64 (block row × col)."""
    r_cb_list = [(_n3_residuals(i))[0] for i in range(_N_CLIPS)]
    r_cr_list = [(_n3_residuals(i))[1] for i in range(_N_CLIPS)]
    r_y_lists = [_n4_block_residuals(i) for i in range(_N_CLIPS)]
    y_top = (
        "(7 * media_id + 13 * (((mb - mbs_w) * 256 + 240 + (u.u % 16))"
        " // 4)) % 256"
    )
    y_v = "(7 * media_id + 13 * ((mb * 256 + o.o) // 4)) % 256"
    cb_v = "(11 * media_id + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * media_id + 23 * (mb * 64 + o.o)) % 256"
    cb_top = (
        "LEAST(255, GREATEST(0,"
        " (11 * media_id + 17 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
        " + r_cb))"
    )
    cr_top = (
        "LEAST(255, GREATEST(0,"
        " (19 * media_id + 23 * ((mb - mbs_w) * 64 + 56 + c.c)) % 256"
        " + r_cr))"
    )
    v_pred = (
        f"LEAST(255, GREATEST(0, {y_top}"
        " + r_y[4 * (u.u // 16) + (u.u % 16) // 4 + 1]))"
    )
    return f"""
WITH clip AS (
  SELECT i AS media_id, 1 + i % 3 AS mbs_w, 1 + i % 2 AS mbs_h,
         rcb.r AS r_cb, rcr.r AS r_cr, ry.r AS r_y
  FROM range({_N_CLIPS}) t(i)
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({r_cb_list!r}) AS r) rcb ON rcb.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({r_cr_list!r}) AS r) rcr ON rcr.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({r_y_lists!r}) AS r) ry ON ry.j = i
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, r_cb, r_cr, r_y, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM clip, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma_pcm AS (
  SELECT media_id,
         SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
luma_pred AS (
  SELECT media_id,
         4 * SUM({v_pred}) AS s,
         SUM(({v_pred}) *
             (4 * (mb * 256 + 64 * (u.u // 16) + (u.u % 16) + 1) + 96)
         ) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS u) u
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
),
chroma_pcm AS (
  SELECT media_id, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
chroma_pred AS (
  SELECT media_id, 8 * SUM({cb_top}) AS scb, 8 * SUM({cr_top}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(8)) AS c) c
  WHERE mbx > 0 AND mby > 0
  GROUP BY media_id
)
SELECT c.media_id,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + COALESCE(lr.s, 0) AS BIGINT) AS sum_y,
       CAST(cp.scb + COALESCE(cr2.scb, 0) AS BIGINT) AS sum_cb,
       CAST(cp.scr + COALESCE(cr2.scr, 0) AS BIGINT) AS sum_cr,
       CAST((lp.ck + COALESCE(lr.ck, 0)) % {_CK_MOD} AS BIGINT) AS ck_y
FROM clip c
JOIN luma_pcm lp ON lp.media_id = c.media_id
LEFT JOIN luma_pred lr ON lr.media_id = c.media_id
JOIN chroma_pcm cp ON cp.media_id = c.media_id
LEFT JOIN chroma_pred cr2 ON cr2.media_id = c.media_id
ORDER BY c.media_id
"""


SQL_H264_LUMADC_DECODE = _sql_h264_lumadc()


# ---------------------------------------------------------------------
# Notch 5: the full Intra_16x16 prediction-mode matrix (incl. Plane)
# ---------------------------------------------------------------------


def _n5_modes(i: int, mb: int) -> tuple[int, int]:
    """Per-MB (luma_mode, chroma_mode): cycles through V/H/DC/Plane
    luma and DC/H/V/Plane chroma so every mode pair occurs across the
    corpus."""
    return (i + mb) % 4, (i + 2 * mb + 1) % 4


def _fixture_mode_frame(sd: int, mbs_w: int, mbs_h: int):
    """One mode-matrix frame with value/mode seed ``sd`` on a given MB
    grid: MBs at (odd, odd) coordinates are predicted, everything else
    is I_PCM — so every predicted MB has PCM left, top, AND above-left
    corner neighbors (Plane and the H/V gradient sums read all three),
    and for the notch-6 slice split (after MB row 1 when mbs_h >= 3)
    every predicted MB's neighbors are also in the SAME slice.
    Prediction expectations are computed with explicit integer loops,
    independent of the decoder's numpy path."""
    i = sd
    w, h = 16 * mbs_w, 16 * mbs_h
    y = np.zeros((h, w), np.uint8)
    cb = np.zeros((h // 2, w // 2), np.uint8)
    cr = np.zeros((h // 2, w // 2), np.uint8)
    n_mbs = mbs_w * mbs_h
    cls = np.zeros(n_mbs, np.int32)
    modes = np.zeros((n_mbs, 2), np.int32)
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        for o in range(256):
            r_, c_ = o // 16, o % 16
            y[mby * 16 + r_, mbx * 16 + c_] = (
                7 * i + 13 * ((mb * 256 + o) // 4)
            ) % 256
        for o in range(64):
            r_, c_ = o // 8, o % 8
            cb[mby * 8 + r_, mbx * 8 + c_] = (
                11 * i + 17 * (mb * 64 + o)
            ) % 256
            cr[mby * 8 + r_, mbx * 8 + c_] = (
                19 * i + 23 * (mb * 64 + o)
            ) % 256
        if mbx % 2 == 1 and mby % 2 == 1:
            cls[mb] = 1
            modes[mb] = _n5_modes(i, mb)

    def clip1(v: int) -> int:
        return 0 if v < 0 else (255 if v > 255 else v)

    for mb in range(n_mbs):
        if not cls[mb]:
            continue
        mbx, mby = mb % mbs_w, mb // mbs_w
        lm, cm = int(modes[mb][0]), int(modes[mb][1])
        y0, x0 = mby * 16, mbx * 16
        top = [int(y[y0 - 1, x0 + x]) for x in range(16)]
        left = [int(y[y0 + yy, x0 - 1]) for yy in range(16)]
        corner = int(y[y0 - 1, x0 - 1])
        for yy in range(16):
            for x in range(16):
                if lm == 0:
                    v = top[x]
                elif lm == 1:
                    v = left[yy]
                elif lm == 2:
                    v = (sum(top) + sum(left) + 16) >> 5
                else:
                    et = [corner] + top
                    el = [corner] + left
                    hs = sum(
                        (xp + 1) * (et[9 + xp] - et[7 - xp])
                        for xp in range(8)
                    )
                    vs = sum(
                        (yp + 1) * (el[9 + yp] - el[7 - yp])
                        for yp in range(8)
                    )
                    a = 16 * (et[16] + el[16])
                    b = (5 * hs + 32) >> 6
                    c = (5 * vs + 32) >> 6
                    v = clip1((a + b * (x - 7) + c * (yy - 7) + 16) >> 5)
                y[y0 + yy, x0 + x] = v
        for pl in (cb, cr):
            cy0, cx0 = mby * 8, mbx * 8
            ct = [int(pl[cy0 - 1, cx0 + x]) for x in range(8)]
            cl = [int(pl[cy0 + yy, cx0 - 1]) for yy in range(8)]
            cco = int(pl[cy0 - 1, cx0 - 1])
            for yy in range(8):
                for x in range(8):
                    if cm == 1:
                        v = cl[yy]
                    elif cm == 2:
                        v = ct[x]
                    elif cm == 3:
                        et = [cco] + ct
                        el = [cco] + cl
                        hs = sum(
                            (xp + 1) * (et[5 + xp] - et[3 - xp])
                            for xp in range(4)
                        )
                        vs = sum(
                            (yp + 1) * (el[5 + yp] - el[3 - yp])
                            for yp in range(4)
                        )
                        a = 16 * (et[8] + el[8])
                        b = (17 * hs + 16) >> 5
                        c = (17 * vs + 16) >> 5
                        v = clip1(
                            (a + b * (x - 3) + c * (yy - 3) + 16) >> 5
                        )
                    else:  # DC, per-4x4 corner rule
                        if x < 4 and yy < 4:
                            v = (sum(ct[:4]) + sum(cl[:4]) + 4) >> 3
                        elif x >= 4 and yy < 4:
                            v = (sum(ct[4:]) + 2) >> 2
                        elif x < 4 and yy >= 4:
                            v = (sum(cl[4:]) + 2) >> 2
                        else:
                            v = (sum(ct[4:]) + sum(cl[4:]) + 4) >> 3
                    pl[cy0 + yy, cx0 + x] = v
    return y, cb, cr, cls, modes


def _fixture_notch5(i: int):
    """Mode-matrix clip ``i`` (notch 5): one frame, seed = clip id."""
    return _fixture_mode_frame(i, 2 + i % 3, 2 + i % 2)


def synthetic_h264_plane_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = []
    for i in range(n):
        y, cb, cr, cls, modes = _fixture_notch5(i)
        rows.append(
            (i, bytearray(encode_mixed_annexb(y, cb, cr, cls, modes=modes)))
        )
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_plane_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 streams exercising the COMPLETE
    Intra_16x16 prediction-mode matrix — Vertical / Horizontal / DC /
    Plane luma (spec 8.3.3 incl. the 8.3.3.4 integer-gradient Plane
    fit over top+left+corner edges) crossed with DC / Horizontal /
    Vertical / Plane chroma (spec 8.3.4 incl. the per-4x4 DC corner
    rule and the 17-coefficient chroma Plane) — every predicted MB
    reconstructed from real PCM neighbor edges, plane sums and the
    MB-order luma checksum under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_plane_media(spark)), "media_id"
    )


def _sql_h264_mode_matrix(
    gop: bool,
    seed_off: int = 0,
    slices_col: str = "n_slices",
    residuals: bool = False,
    fingerprint: bool = False,
    residual_qp=None,
    qp_cycle: tuple[int, int] | None = None,
) -> str:
    """Closed-form oracle for the mode-matrix corpora: predicted MBs'
    neighbor edges are PCM formula values, so every prediction mode —
    incl. both Plane fits — replays as integer arithmetic: per-MB
    gradient/DC constants in a ``consts`` CTE (explicit edge-sum
    expansions), then per-sample CASE over the mode. DuckDB's ``>>``
    is an arithmetic shift on BIGINT (verified), matching the spec's
    floor semantics on the possibly-negative pre-shift operands.

    ``gop=False`` is the notch-5 single-frame corpus (seed sd =
    sd); ``gop=True`` the notch-6 GOP corpus: 1 + i%3 frames per
    clip, frame f seeded sd = 4·i + f (unique, so every intermediate
    relation keys on sd alone), one output row per (clip, frame) with
    the slice count derived from the geometry."""

    def ft(x: int) -> str:
        return (
            f"((7 * sd + 13 * (((mb - mbs_w) * 256 + {240 + x})"
            f" // 4)) % 256)"
        )

    def fl(yy: int) -> str:
        return (
            f"((7 * sd + 13 * (((mb - 1) * 256 + {16 * yy + 15})"
            f" // 4)) % 256)"
        )

    fd = "((7 * sd + 13 * (((mb - mbs_w - 1) * 256 + 255) // 4)) % 256)"
    hsum = " + ".join(
        f"({xp + 1}) * ({ft(8 + xp)} - {ft(6 - xp) if 6 - xp >= 0 else fd})"
        for xp in range(8)
    )
    vsum = " + ".join(
        f"({yp + 1}) * ({fl(8 + yp)} - {fl(6 - yp) if 6 - yp >= 0 else fd})"
        for yp in range(8)
    )
    sum_top = " + ".join(ft(x) for x in range(16))
    sum_left = " + ".join(fl(yy) for yy in range(16))
    ft_var = (
        "((7 * sd + 13 * (((mb - mbs_w) * 256 + 240 + (o.o % 16))"
        " // 4)) % 256)"
    )
    fl_var = (
        "((7 * sd + 13 * (((mb - 1) * 256 + 16 * (o.o // 16) + 15)"
        " // 4)) % 256)"
    )
    v_luma = f"""CASE lm
      WHEN 0 THEN {ft_var}
      WHEN 1 THEN {fl_var}
      WHEN 2 THEN dc16
      ELSE LEAST(255, GREATEST(0,
        (la + lb * ((o.o % 16) - 7) + lc * ((o.o // 16) - 7) + 16) >> 5))
    END"""

    def chroma_parts(k1: int, k2: int, tag: str) -> tuple[str, str]:
        def gt(x: int) -> str:
            return (
                f"(({k1} * sd + {k2} * ((mb - mbs_w) * 64"
                f" + {56 + x})) % 256)"
            )

        def gl(yy: int) -> str:
            return (
                f"(({k1} * sd + {k2} * ((mb - 1) * 64"
                f" + {8 * yy + 7})) % 256)"
            )

        gd = f"(({k1} * sd + {k2} * ((mb - mbs_w - 1) * 64 + 63)) % 256)"
        hs = " + ".join(
            f"({xp + 1}) * ({gt(4 + xp)} - {gt(2 - xp) if 2 - xp >= 0 else gd})"
            for xp in range(4)
        )
        vs = " + ".join(
            f"({yp + 1}) * ({gl(4 + yp)} - {gl(2 - yp) if 2 - yp >= 0 else gd})"
            for yp in range(4)
        )
        consts = f"""
         16 * ({gt(7)} + {gl(7)}) AS {tag}_a,
         ((17 * ({hs}) + 16) >> 5) AS {tag}_b,
         ((17 * ({vs}) + 16) >> 5) AS {tag}_c,
         ({" + ".join(gt(x) for x in range(4))}) AS {tag}_t0,
         ({" + ".join(gt(x) for x in range(4, 8))}) AS {tag}_t1,
         ({" + ".join(gl(y) for y in range(4))}) AS {tag}_l0,
         ({" + ".join(gl(y) for y in range(4, 8))}) AS {tag}_l1"""
        gt_var = (
            f"(({k1} * sd + {k2} * ((mb - mbs_w) * 64 + 56"
            f" + (o.o % 8))) % 256)"
        )
        gl_var = (
            f"(({k1} * sd + {k2} * ((mb - 1) * 64 + 8 * (o.o // 8)"
            f" + 7)) % 256)"
        )
        v = f"""CASE cm
      WHEN 1 THEN {gl_var}
      WHEN 2 THEN {gt_var}
      WHEN 3 THEN LEAST(255, GREATEST(0,
        ({tag}_a + {tag}_b * ((o.o % 8) - 3)
         + {tag}_c * ((o.o // 8) - 3) + 16) >> 5))
      ELSE CASE
        WHEN (o.o % 8) < 4 AND (o.o // 8) < 4
          THEN ({tag}_t0 + {tag}_l0 + 4) >> 3
        WHEN (o.o % 8) >= 4 AND (o.o // 8) < 4
          THEN ({tag}_t1 + 2) >> 2
        WHEN (o.o % 8) < 4 AND (o.o // 8) >= 4
          THEN ({tag}_l1 + 2) >> 2
        ELSE ({tag}_t1 + {tag}_l1 + 4) >> 3
      END
    END"""
        return consts, v

    cb_consts, v_cb = chroma_parts(11, 17, "cb")
    cr_consts, v_cr = chroma_parts(19, 23, "cr")
    extra_cols = ""
    if residuals:
        # clip-wrap every predicted-MB sample with its residual: luma
        # indexed by 4x4-block position, chroma a per-plane scalar.
        # Under qp_cycle the residual set is picked per MB by its
        # in-slice predicted ordinal parity (((mb % mbs_w) - 1) // 2)
        if qp_cycle is not None:
            par = "((((mb % mbs_w) - 1) // 2) % 2)"
            idx = "[4 * ((o.o // 16) // 4) + (o.o % 16) // 4 + 1]"
            v_luma = (
                "LEAST(255, GREATEST(0, (" + v_luma + ")\n"
                f"      + CASE WHEN {par} = 0 THEN r_y{idx}"
                f" ELSE r_y1{idx} END))"
            )
            v_cb = (
                "LEAST(255, GREATEST(0, (" + v_cb + ")"
                f" + CASE WHEN {par} = 0 THEN r_cb ELSE r_cb1 END))"
            )
            v_cr = (
                "LEAST(255, GREATEST(0, (" + v_cr + ")"
                f" + CASE WHEN {par} = 0 THEN r_cr ELSE r_cr1 END))"
            )
            extra_cols = ", r_y, r_cb, r_cr, r_y1, r_cb1, r_cr1"
        else:
            v_luma = (
                "LEAST(255, GREATEST(0, (" + v_luma + ")\n"
                "      + r_y[4 * ((o.o // 16) // 4) + (o.o % 16) // 4 + 1]))"
            )
            v_cb = "LEAST(255, GREATEST(0, (" + v_cb + ") + r_cb))"
            v_cr = "LEAST(255, GREATEST(0, (" + v_cr + ") + r_cr))"
            extra_cols = ", r_y, r_cb, r_cr"
    y_v = "(7 * sd + 13 * ((mb * 256 + o.o) // 4)) % 256"
    cb_v = "(11 * sd + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * sd + 23 * (mb * 64 + o.o)) % 256"
    if gop:
        if residuals:
            n_sd = 4 * (_N_CLIPS - 1) + 3
            if qp_cycle is not None:
                # two residual sets per seed, selected per predicted
                # MB by its in-slice ordinal parity (notch 9)
                qps = [lambda j: qp_cycle[0], lambda j: qp_cycle[1]]
            else:
                qps = [residual_qp or (lambda j: _N3_QP)]
            joins, cols = [], []
            for si, qf in enumerate(qps):
                sfx = "" if si == 0 else "1"
                ry_lists = [
                    _n4_block_residuals(seed_off + j, qf(j))
                    for j in range(n_sd)
                ]
                rcb_list = [
                    _n3_residuals(seed_off + j, qf(j))[0]
                    for j in range(n_sd)
                ]
                rcr_list = [
                    _n3_residuals(seed_off + j, qf(j))[1]
                    for j in range(n_sd)
                ]
                cols.append(
                    f"ry{sfx}.r AS r_y{sfx}, rcb{sfx}.r AS r_cb{sfx},"
                    f" rcr{sfx}.r AS r_cr{sfx}"
                )
                joins.append(f"""
  JOIN (SELECT UNNEST(range({n_sd})) AS j,
               UNNEST({ry_lists!r}) AS r) ry{sfx}
    ON ry{sfx}.j = 4 * i + fr.f
  JOIN (SELECT UNNEST(range({n_sd})) AS j,
               UNNEST({rcb_list!r}) AS r) rcb{sfx}
    ON rcb{sfx}.j = 4 * i + fr.f
  JOIN (SELECT UNNEST(range({n_sd})) AS j,
               UNNEST({rcr_list!r}) AS r) rcr{sfx}
    ON rcr{sfx}.j = 4 * i + fr.f"""
                )
            frames_cte = f"""frames AS (
  SELECT i AS clip_id, fr.f AS f, {seed_off} + 4 * i + fr.f AS sd,
         2 + i % 3 AS mbs_w, 2 + i % 2 AS mbs_h,
         {", ".join(cols)}
  FROM range({_N_CLIPS}) t(i),
       LATERAL (SELECT UNNEST(range(1 + i % 3)) AS f) fr{"".join(joins)}
)"""
        else:
            frames_cte = f"""frames AS (
  SELECT i AS clip_id, fr.f AS f, {seed_off} + 4 * i + fr.f AS sd,
         2 + i % 3 AS mbs_w, 2 + i % 2 AS mbs_h
  FROM range({_N_CLIPS}) t(i),
       LATERAL (SELECT UNNEST(range(1 + i % 3)) AS f) fr
)"""
        final_select = """SELECT c.clip_id AS media_id,
       CAST(c.f AS INT) AS frame_idx,
       CAST(CASE WHEN c.mbs_h >= 3 THEN 2 ELSE 1 END AS INT)
         AS """ + slices_col + """,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + COALESCE(lr.s, 0) AS BIGINT) AS sum_y,
       CAST(cp.scb + COALESCE(cr2.scb, 0) AS BIGINT) AS sum_cb,
       CAST(cp.scr + COALESCE(cr2.scr, 0) AS BIGINT) AS sum_cr,
       CAST((lp.ck + COALESCE(lr.ck, 0)) % {mod} AS BIGINT) AS ck_y
FROM frames c
JOIN luma_pcm lp ON lp.sd = c.sd
LEFT JOIN luma_pred lr ON lr.sd = c.sd
JOIN chroma_pcm cp ON cp.sd = c.sd
LEFT JOIN chroma_pred cr2 ON cr2.sd = c.sd
ORDER BY media_id, frame_idx""".format(mod=_CK_MOD)
    else:
        frames_cte = f"""frames AS (
  SELECT i AS sd, 2 + i % 3 AS mbs_w, 2 + i % 2 AS mbs_h
  FROM range({_N_CLIPS}) t(i)
)"""
        final_select = """SELECT c.sd AS media_id,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + COALESCE(lr.s, 0) AS BIGINT) AS sum_y,
       CAST(cp.scb + COALESCE(cr2.scb, 0) AS BIGINT) AS sum_cb,
       CAST(cp.scr + COALESCE(cr2.scr, 0) AS BIGINT) AS sum_cr,
       CAST((lp.ck + COALESCE(lr.ck, 0)) % {mod} AS BIGINT) AS ck_y
FROM frames c
JOIN luma_pcm lp ON lp.sd = c.sd
LEFT JOIN luma_pred lr ON lr.sd = c.sd
JOIN chroma_pcm cp ON cp.sd = c.sd
LEFT JOIN chroma_pred cr2 ON cr2.sd = c.sd
ORDER BY media_id""".format(mod=_CK_MOD)
    if fingerprint:
        # per-sample luma values (PCM formula + predicted-mode CASE)
        # -> 16-bin histogram per frame -> ordered count string ->
        # md5-prefix fingerprint; frames sharing a fingerprint are
        # near-dup candidates (the video-dedup primitive). Media 24/25
        # are byte-duplicates of clips 0/5, so the collision path is
        # NON-vacuous: their frames' fingerprints genuinely collide.
        fp_frames = f"""frames AS (
  SELECT i AS clip_id, fr.f AS f,
         {seed_off} + 4 * ie.ie + fr.f AS sd,
         2 + ie.ie % 3 AS mbs_w, 2 + ie.ie % 2 AS mbs_h
  FROM range({_N_CLIPS + 2}) t(i),
       LATERAL (SELECT CASE WHEN i = {_N_CLIPS} THEN 0
                            WHEN i = {_N_CLIPS + 1} THEN 5
                            ELSE i END AS ie) ie,
       LATERAL (SELECT UNNEST(range(1 + ie.ie % 3)) AS f) fr
)"""
        return f"""
WITH {fp_frames},
sds AS (SELECT DISTINCT sd, mbs_w, mbs_h FROM frames),
mbs AS (
  SELECT sd, mbs_w, mbs_h, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM sds, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
consts AS (
  SELECT sd, mbs_w, mb,
         (sd + mb) % 4 AS lm,
         (sd + 2 * mb + 1) % 4 AS cm{extra_cols},
         16 * ({ft(15)} + {fl(15)}) AS la,
         ((5 * ({hsum}) + 32) >> 6) AS lb,
         ((5 * ({vsum}) + 32) >> 6) AS lc,
         (({sum_top}) + ({sum_left}) + 16) >> 5 AS dc16,{cb_consts},{cr_consts}
  FROM mbs WHERE mbx % 2 = 1 AND mby % 2 = 1
),
samples AS (
  SELECT sd, {y_v} AS v
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx % 2 = 1 AND mby % 2 = 1)
  UNION ALL
  SELECT sd, {v_luma} AS v
  FROM consts, LATERAL (SELECT UNNEST(range(256)) AS o) o
),
hist AS (
  SELECT s.sd, b.b AS bin, COUNT(*) FILTER (v // 16 = b.b) AS cnt
  FROM samples s, LATERAL (SELECT UNNEST(range(16)) AS b) b
  GROUP BY s.sd, b.b
),
fp AS (
  SELECT sd,
         string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bin) AS hist,
         CAST(SUM(cnt) AS BIGINT) AS n_px
  FROM hist GROUP BY sd
),
fp2 AS (
  SELECT sd, hist, n_px,
         CAST(('0x' || substr(md5(hist), 1, 15)) AS BIGINT) AS fp
  FROM fp
),
dups AS (
  SELECT f2.fp, COUNT(*) AS n_frames_with_fp
  FROM frames c JOIN fp2 f2 ON f2.sd = c.sd
  GROUP BY f2.fp
)
SELECT c.clip_id AS media_id, CAST(c.f AS INT) AS frame_idx,
       f2.n_px, f2.hist, f2.fp, d.n_frames_with_fp
FROM frames c
JOIN fp2 f2 ON f2.sd = c.sd
JOIN dups d ON d.fp = f2.fp
ORDER BY media_id, frame_idx
"""
    return f"""
WITH {frames_cte},
mbs AS (
  SELECT sd, mbs_w, mbs_h, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby{extra_cols}
  FROM frames, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
consts AS (
  SELECT sd, mbs_w, mb,
         (sd + mb) % 4 AS lm,
         (sd + 2 * mb + 1) % 4 AS cm{extra_cols},
         16 * ({ft(15)} + {fl(15)}) AS la,
         ((5 * ({hsum}) + 32) >> 6) AS lb,
         ((5 * ({vsum}) + 32) >> 6) AS lc,
         (({sum_top}) + ({sum_left}) + 16) >> 5 AS dc16,{cb_consts},{cr_consts}
  FROM mbs WHERE mbx % 2 = 1 AND mby % 2 = 1
),
luma_pcm AS (
  SELECT sd,
         SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx % 2 = 1 AND mby % 2 = 1)
  GROUP BY sd
),
luma_pred AS (
  SELECT sd,
         SUM({v_luma}) AS s,
         SUM(({v_luma}) * (mb * 256 + o.o + 1)) AS ck
  FROM consts, LATERAL (SELECT UNNEST(range(256)) AS o) o
  GROUP BY sd
),
chroma_pcm AS (
  SELECT sd, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE NOT (mbx % 2 = 1 AND mby % 2 = 1)
  GROUP BY sd
),
chroma_pred AS (
  SELECT sd, SUM({v_cb}) AS scb, SUM({v_cr}) AS scr
  FROM consts, LATERAL (SELECT UNNEST(range(64)) AS o) o
  GROUP BY sd
)
{final_select}
"""


SQL_H264_PLANE_DECODE = _sql_h264_mode_matrix(False)
SQL_H264_GOP_DECODE = _sql_h264_mode_matrix(True)
SQL_H264_MP4_DECODE = _sql_h264_mode_matrix(
    True, seed_off=96, slices_col="n_nals"
)


# ---------------------------------------------------------------------
# Notch 6: multi-picture (GOP), multi-slice streams
# ---------------------------------------------------------------------


def _gop_slice_bounds(mbs_w: int, mbs_h: int) -> list[tuple[int, int]]:
    """Raster slice split: two slices (rows 0-1, rows 2+) when the
    picture has 3+ MB rows, else one — chosen so every predicted MB
    (odd, odd) keeps its left/top/corner neighbors IN-SLICE."""
    if mbs_h >= 3:
        return [(0, 2 * mbs_w), (2 * mbs_w, mbs_w * mbs_h)]
    return [(0, mbs_w * mbs_h)]


def _gop_parameter_sets(
    mbs_w: int, mbs_h: int, qp: int
) -> tuple[bytes, bytes]:
    """(SPS, PPS) as complete NAL units (header byte + escaped rbsp)
    for the GOP/MP4 encoders — baseline profile, CAVLC, the ladder's
    fixed geometry syntax."""
    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
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
    return (
        bytes([(3 << 5) | 7]) + _escape_ebsp(sps.tobytes()),
        bytes([(3 << 5) | 8]) + _escape_ebsp(pps.tobytes()),
    )


def _encode_picture_slices(
    frame,
    f: int,
    mbs_w: int,
    mbs_h: int,
    chroma_dc: np.ndarray | None = None,
    luma_dc: np.ndarray | None = None,
    pps_id: int = 0,
    qp_deltas: np.ndarray | None = None,
) -> list[bytes]:
    """One IDR picture's slice NAL units (header byte + escaped rbsp,
    no start codes) — raster slices per ``_gop_slice_bounds``, each
    with its own header (first_mb_in_slice, idr_pic_id alternating
    per spec 7.4.3) and its own CAVLC nC context (macroblocks of
    other slices are unavailable, matching the decoder). Optional
    per-MB chroma-DC levels (2 per MB, notch-3 syntax) and dense
    luma-DC zig-zag levels (16 per MB, notch-4 syntax) ride on
    predicted MBs."""
    y, cb, cr, cls, modes = frame
    nals = []
    for mb0, mb1 in _gop_slice_bounds(mbs_w, mbs_h):
            sl = _BitWriter()
            sl.ue(mb0)  # first_mb_in_slice
            sl.ue(7)  # slice_type: I (all slices in picture)
            sl.ue(pps_id)  # pic_parameter_set_id — PPS selection
            sl.u(0, 4)  # frame_num (0 for every IDR)
            sl.ue(f % 32)  # idr_pic_id — differs between consecutive IDRs
            sl.u(0, 4)  # pic_order_cnt_lsb
            sl.u(0, 1); sl.u(0, 1)  # dec_ref_pic_marking
            sl.se(0)  # slice_qp_delta
            sl.ue(1)  # disable_deblocking_filter_idc
            tc = np.full(mbs_w * mbs_h, -1, np.int32)
            for mb in range(mb0, mb1):
                mbx, mby = mb % mbs_w, mb // mbs_w
                if cls[mb] == 0:
                    sl.ue(25)
                    sl.align_zero()
                    sl.raw_bytes(
                        y[mby * 16 : mby * 16 + 16,
                          mbx * 16 : mbx * 16 + 16]
                        .astype(np.uint8).tobytes()
                    )
                    sl.raw_bytes(
                        cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                        .astype(np.uint8).tobytes()
                    )
                    sl.raw_bytes(
                        cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                        .astype(np.uint8).tobytes()
                    )
                    tc[mb] = 16
                else:
                    lm, cm = int(modes[mb][0]), int(modes[mb][1])
                    cdc = (
                        (int(chroma_dc[mb][0]), int(chroma_dc[mb][1]))
                        if chroma_dc is not None
                        else (0, 0)
                    )
                    has_cdc = cdc != (0, 0)
                    # Table 7-11: mb_type - 1 = 12*cbp_luma_bit
                    # + 4*cbp_chroma + pred_mode
                    sl.ue((4 if has_cdc else 0) + lm + 1)
                    sl.ue(cm)
                    # mb_qp_delta: QP_Y accumulates across the
                    # slice's coded MBs (spec 7.4.5) — notch 9
                    sl.se(
                        int(qp_deltas[mb]) if qp_deltas is not None else 0
                    )
                    # nC from SAME-SLICE neighbors only
                    n_a = (
                        tc[mb - 1]
                        if (mbx > 0 and mb - 1 >= mb0)
                        else -1
                    )
                    n_b = (
                        tc[mb - mbs_w]
                        if (mby > 0 and mb - mbs_w >= mb0)
                        else -1
                    )
                    if n_a >= 0 and n_b >= 0:
                        n_c = (n_a + n_b + 1) >> 1
                    elif n_a >= 0:
                        n_c = n_a
                    elif n_b >= 0:
                        n_c = n_b
                    else:
                        n_c = 0
                    ldc = (
                        [int(v) for v in luma_dc[mb]]
                        if luma_dc is not None
                        else [0] * 16
                    )
                    if any(ldc):
                        _write_luma_dc_block(sl, ldc, n_c)
                    elif n_c < 2:
                        sl.u(1, 1)
                    elif n_c < 4:
                        sl.u(3, 2)
                    elif n_c < 8:
                        sl.u(15, 4)
                    else:
                        sl.u(3, 6)
                    if has_cdc:
                        _write_chroma_dc_level(sl, cdc[0])
                        _write_chroma_dc_level(sl, cdc[1])
                    tc[mb] = 0
            sl.rbsp_trailing()
            nals.append(bytes([(3 << 5) | 5]) + _escape_ebsp(sl.tobytes()))
    return nals


def encode_gop_annexb(frames: list, qp: int = 26) -> bytes:
    """Annex-B stream of ``len(frames)`` IDR pictures (each a
    (y, cb, cr, cls, modes) tuple sharing one SPS geometry), every
    picture split into raster slices per ``_gop_slice_bounds``."""
    h, w = frames[0][0].shape
    mbs_w, mbs_h = w // 16, h // 16
    sps_nal, pps_nal = _gop_parameter_sets(mbs_w, mbs_h, qp)
    out = b"\x00\x00\x00\x01" + sps_nal + b"\x00\x00\x00\x01" + pps_nal
    for f, frame in enumerate(frames):
        for nal in _encode_picture_slices(frame, f, mbs_w, mbs_h):
            out += b"\x00\x00\x00\x01" + nal
    return out


def _fixture_notch6(i: int) -> list:
    """GOP clip ``i``: 1 + i%3 IDR frames on the clip's shared
    geometry, frame f value/mode-seeded by sd = 4·i + f (unique per
    (clip, frame), so the oracle can key intermediate relations on sd
    alone)."""
    mbs_w, mbs_h = 2 + i % 3, 2 + i % 2
    return [
        _fixture_mode_frame(4 * i + f, mbs_w, mbs_h)
        for f in range(1 + i % 3)
    ]


def synthetic_h264_gop_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = []
    for i in range(n):
        rows.append((i, bytearray(encode_gop_annexb(_fixture_notch6(i)))))
    return spark.createDataFrame(rows, "media_id long, payload binary")


_H264_GOP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_slices", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_mbs", T.LongType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
        T.StructField("ck_y", T.LongType()),
    ]
)


def h264_gop_stats(media: DataFrame) -> DataFrame:
    """Decode every picture of each payload's GOP and emit one exact
    statistics row per frame (the per-frame plane sums + MB-order
    luma checksum of ``h264_frame_stats``)."""

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _H264_GOP_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # n_slices counts the slice NALs the bitstream parser
                # actually consumed per picture (slice_counts), not
                # the encoder-side _gop_slice_bounds geometry — the
                # column verifies the stream's real slice structure
                pics, sps, slice_counts = decode_h264_stream_info(
                    bytes(payload)
                )
                mbs_w, mbs_h = sps["mbs_w"], sps["mbs_h"]
                for fi, (y, cb, cr) in enumerate(pics):
                    n_slices = slice_counts[fi]
                    ck = _frame_ck(y, mbs_w, mbs_h)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["n_slices"].append(n_slices)
                    out["width"].append(y.shape[1])
                    out["height"].append(y.shape[0])
                    out["n_mbs"].append(mbs_w * mbs_h)
                    out["sum_y"].append(int(y.sum()))
                    out["sum_cb"].append(int(cb.sum()))
                    out["sum_cr"].append(int(cr.sum()))
                    out["ck_y"].append(ck)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, _H264_GOP_SCHEMA)


def q_h264_gop_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 multi-picture, multi-slice Annex-B
    streams (1-3 IDR frames each; pictures with 3+ MB rows split into
    two raster slice NALs) — real slice semantics: first_mb_in_slice
    addressing, more_rbsp_data() end-of-slice detection, per-spec
    idr_pic_id alternation, and slice-gated intra/nC availability —
    one exact statistics row per frame under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_gop_media(spark)),
        "media_id",
        "frame_idx",
    )


# ---------------------------------------------------------------------
# Notch 7: the composition corpus — GOP × slices × modes × residuals
# ---------------------------------------------------------------------

#: value-seed offset for the composition corpus (disjoint from the
#: GOP corpus at 0.. and the AVC-in-MP4 corpus at 96..)
_N7_SEED_OFF = 192


def _fixture_notch7(i: int):
    """GOP clip ``i`` whose predicted MBs carry BOTH dense luma-DC
    blocks (notch 4) and chroma-DC residuals (notch 3) on top of the
    full prediction-mode matrix (notch 5), across multiple slices and
    pictures (notch 6) — QP 40 throughout so both residual scalings
    are the exactly-verified 16·f / 20·L forms. Neighbors of
    predicted MBs are always PCM (checkerboard), so prediction reads
    residual-free formula edges and the residual add composes per-MB.
    Returns (frames, cdcs, ldcs): per-frame plane tuples and the
    per-frame residual level arrays the encoder rides."""
    mbs_w, mbs_h = 2 + i % 3, 2 + i % 2
    frames, cdcs, ldcs = [], [], []
    for f in range(1 + i % 3):
        sd = _N7_SEED_OFF + 4 * i + f
        y, cb, cr, cls, modes = _fixture_mode_frame(sd, mbs_w, mbs_h)
        n_mbs = len(cls)
        cdc = np.zeros((n_mbs, 2), np.int32)
        ldc = np.zeros((n_mbs, 16), np.int32)
        zz = _n4_dc_zz(sd)
        res_y = _n4_block_residuals(sd)
        l_cb, l_cr = _n3_levels(sd)
        r_cb, r_cr = _n3_residuals(sd)
        for mb in range(n_mbs):
            if not cls[mb]:
                continue
            cdc[mb] = (l_cb, l_cr)
            ldc[mb] = zz
            mbx, mby = mb % mbs_w, mb // mbs_w
            for bi in range(4):
                for bj in range(4):
                    y0_, x0_ = mby * 16 + 4 * bi, mbx * 16 + 4 * bj
                    sub = y[y0_ : y0_ + 4, x0_ : x0_ + 4].astype(np.int32)
                    y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                        sub + res_y[bi * 4 + bj], 0, 255
                    )
            for pl, r_ in ((cb, r_cb), (cr, r_cr)):
                sub = pl[
                    mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                ].astype(np.int32)
                pl[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                    np.clip(sub + r_, 0, 255)
                )
        frames.append((y, cb, cr, cls, modes))
        cdcs.append(cdc)
        ldcs.append(ldc)
    return frames, cdcs, ldcs


def encode_full_annexb(i: int) -> bytes:
    """Annex-B composition stream for clip ``i`` (QP 40)."""
    frames, cdcs, ldcs = _fixture_notch7(i)
    h, w = frames[0][0].shape
    mbs_w, mbs_h = w // 16, h // 16
    sps_nal, pps_nal = _gop_parameter_sets(mbs_w, mbs_h, _N3_QP)
    out = b"\x00\x00\x00\x01" + sps_nal + b"\x00\x00\x00\x01" + pps_nal
    for f, frame in enumerate(frames):
        for nal in _encode_picture_slices(
            frame, f, mbs_w, mbs_h, chroma_dc=cdcs[f], luma_dc=ldcs[f]
        ):
            out += b"\x00\x00\x00\x01" + nal
    return out


def synthetic_h264_full_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = [(i, bytearray(encode_full_annexb(i))) for i in range(n)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_full_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the H.264 ladder's composition corpus — every
    notch at once: multi-picture multi-slice streams whose predicted
    macroblocks use the full Intra_16x16 prediction-mode matrix AND
    carry dense entropy-coded luma-DC blocks AND chroma-DC residuals,
    at QP 40 with slice-gated availability. One exact statistics row
    per frame; proves the decoder's features compose, not just pass
    in isolation."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_full_media(spark)),
        "media_id",
        "frame_idx",
    )


SQL_H264_FULL_DECODE = _sql_h264_mode_matrix(
    True, seed_off=_N7_SEED_OFF, residuals=True
)


SQL_VIDEO_FINGERPRINT = _sql_h264_mode_matrix(True, fingerprint=True)


# ---------------------------------------------------------------------
# Video fingerprint dedup (round 8)
# ---------------------------------------------------------------------

_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("hist", T.StringType()),
        T.StructField("fp", T.LongType()),
    ]
)


def h264_frame_fingerprints(media: DataFrame) -> DataFrame:
    """Per-frame luma-histogram fingerprints: decode each stream,
    bucket the luma plane into 16 equi-width bins, and hash the
    ordered count string (md5-prefix BIGINT, the engine-portable
    convention) — frames sharing a fingerprint are near-duplicate
    candidates. The video-dedup primitive: one narrow Arrow stage,
    payload bytes never leave the executor, 5 small columns out."""
    import hashlib

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _FP_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                pics, sps = decode_h264_stream(bytes(payload))
                for fi, (y, cb, cr) in enumerate(pics):
                    counts = np.bincount(
                        (y.reshape(-1) // 16).astype(np.int64),
                        minlength=16,
                    )[:16]
                    hist = ",".join(str(int(c)) for c in counts)
                    fp = int(
                        hashlib.md5(hist.encode()).hexdigest()[:15], 16
                    )
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["n_px"].append(int(y.size))
                    out["hist"].append(hist)
                    out["fp"].append(fp)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, _FP_SCHEMA)


def q_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-frame luma-histogram fingerprints over the GOP
    corpus plus two byte-duplicate clips (media 24/25 repeat clips
    0/5), then the collision count per fingerprint — the duplicated
    clips' frames genuinely collide, so the dedup path is
    non-vacuous. Decode + fingerprint is one narrow Arrow stage; the
    collision count is a |distinct fp|-sized aggregation broadcast
    back."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    from pyspark.sql import Window

    base = synthetic_h264_gop_media(spark)
    dups = spark.createDataFrame(
        [
            (_N_CLIPS + k, bytearray(encode_gop_annexb(_fixture_notch6(i))))
            for k, i in ((0, 0), (1, 5))
        ],
        "media_id long, payload binary",
    )
    fps = h264_frame_fingerprints(base.unionByName(dups))
    # collision count as an fp-partitioned window, NOT a groupBy +
    # join back: the join's two subtrees would each re-run the Arrow
    # decode stage — at corpus scale that doubles the dominant cost.
    # One decode, one fp-keyed shuffle, bounded partitions.
    n = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return tiny_sorted(
        fps.select(
            "media_id", "frame_idx", "n_px", "hist", "fp",
            n.alias("n_frames_with_fp"),
        ),
        "media_id",
        "frame_idx",
    )


# ---------------------------------------------------------------------
# Notch 8: multi-parameter-set streams (per-slice PPS selection)
# ---------------------------------------------------------------------

#: seed offset for the multi-QP corpus (disjoint from 0/96/192)
_N8_SEED_OFF = 288

#: the two parameter sets: PPS 0 at QP 40 (the >= 36 shift branch of
#: spec 8.5.10, QPc 36 via Table 8-15) and PPS 1 at QP 28 (the
#: below-36 rounding branch; QPc = QP identity below 30)
_N8_QPS = (40, 28)


def _n8_qp(f: int) -> int:
    return _N8_QPS[f % 2]


def _pps_nal(pps_id: int, qp: int) -> bytes:
    """One PPS NAL (header byte + escaped rbsp) with its own id and
    pic_init_qp — the parameter-set registry entry real streams
    switch between."""
    pps = _BitWriter()
    pps.ue(pps_id)
    pps.ue(0)  # seq_parameter_set_id
    pps.u(0, 1); pps.u(0, 1); pps.ue(0)
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(qp - 26); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)  # deblocking control ON
    pps.rbsp_trailing()
    return bytes([(3 << 5) | 8]) + _escape_ebsp(pps.tobytes())


def _fixture_notch8(i: int):
    """Multi-QP GOP clip ``i``: frames alternate between the two
    parameter sets (frame f uses PPS f%2), so the SAME entropy-coded
    residual levels reconstruct through DIFFERENT dequantization
    branches — QP 40 exercises the >= 36 shift path, QP 28 the
    rounding path of spec 8.5.10 and the sub-30 QPc identity of
    Table 8-15. Returns (frames, cdcs, ldcs, qps)."""
    mbs_w, mbs_h = 2 + i % 3, 2 + i % 2
    frames, cdcs, ldcs, qps = [], [], [], []
    for f in range(1 + i % 3):
        sd = _N8_SEED_OFF + 4 * i + f
        qp = _n8_qp(f)
        y, cb, cr, cls, modes = _fixture_mode_frame(sd, mbs_w, mbs_h)
        n_mbs = len(cls)
        cdc = np.zeros((n_mbs, 2), np.int32)
        ldc = np.zeros((n_mbs, 16), np.int32)
        zz = _n4_dc_zz(sd)
        res_y = _n4_block_residuals(sd, qp)
        l_cb, l_cr = _n3_levels(sd)
        r_cb, r_cr = _n3_residuals(sd, qp)
        for mb in range(n_mbs):
            if not cls[mb]:
                continue
            cdc[mb] = (l_cb, l_cr)
            ldc[mb] = zz
            mbx, mby = mb % mbs_w, mb // mbs_w
            for bi in range(4):
                for bj in range(4):
                    y0_, x0_ = mby * 16 + 4 * bi, mbx * 16 + 4 * bj
                    sub = y[y0_ : y0_ + 4, x0_ : x0_ + 4].astype(np.int32)
                    y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                        sub + res_y[bi * 4 + bj], 0, 255
                    )
            for pl, r_ in ((cb, r_cb), (cr, r_cr)):
                sub = pl[
                    mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                ].astype(np.int32)
                pl[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                    np.clip(sub + r_, 0, 255)
                )
        frames.append((y, cb, cr, cls, modes))
        cdcs.append(cdc)
        ldcs.append(ldc)
        qps.append(qp)
    return frames, cdcs, ldcs, qps


def encode_multiqp_annexb(i: int) -> bytes:
    """Annex-B multi-parameter-set stream for clip ``i``: one SPS,
    TWO PPS NALs (ids 0/1 at QPs 40/28), frames' slices selecting
    their PPS via pic_parameter_set_id."""
    frames, cdcs, ldcs, qps = _fixture_notch8(i)
    h, w = frames[0][0].shape
    mbs_w, mbs_h = w // 16, h // 16
    sps_nal, _ = _gop_parameter_sets(mbs_w, mbs_h, _N8_QPS[0])
    out = b"\x00\x00\x00\x01" + sps_nal
    for pid, qp in enumerate(_N8_QPS):
        out += b"\x00\x00\x00\x01" + _pps_nal(pid, qp)
    for f, frame in enumerate(frames):
        for nal in _encode_picture_slices(
            frame, f, mbs_w, mbs_h,
            chroma_dc=cdcs[f], luma_dc=ldcs[f], pps_id=f % 2,
        ):
            out += b"\x00\x00\x00\x01" + nal
    return out


def synthetic_h264_multiqp_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = [(i, bytearray(encode_multiqp_annexb(i))) for i in range(n)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_multiqp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: multi-parameter-set streams — one SPS, two PPS at
    different pic_init_qp, each frame's slices selecting their PPS
    via pic_parameter_set_id (the parameter-set registry every real
    decoder manages). The SAME entropy-coded residual levels
    reconstruct through BOTH dequantization branches: QP 40 hits the
    spec-8.5.10 >= 36 shift path, QP 28 the rounding path and the
    sub-30 Table-8-15 identity — per-frame exact statistics under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_multiqp_media(spark)),
        "media_id",
        "frame_idx",
    )


SQL_H264_MULTIQP_DECODE = _sql_h264_mode_matrix(
    True,
    seed_off=_N8_SEED_OFF,
    residuals=True,
    residual_qp=lambda j: _n8_qp(j % 4),
)


# ---------------------------------------------------------------------
# Notch 9: intra-slice MB-level QP tracking (mb_qp_delta accumulation)
# ---------------------------------------------------------------------

_N9_SEED_OFF = 384
_N9_BASE_QP = 34  # deltas lift alternate MBs to 36: BOTH 8.5.10 branches
                  # inside ONE slice


def _n9_qp_of_ordinal(k: int) -> int:
    """QP_Y at the k-th predicted MB of a slice: deltas alternate
    +2/−2, so even ordinals run at 36 (the shift branch) and odd ones
    back at 34 (the rounding branch)."""
    return _N9_BASE_QP + 2 if k % 2 == 0 else _N9_BASE_QP


def _fixture_notch9(i: int):
    """QP-tracking GOP clip ``i``: every predicted MB carries a
    nonzero mb_qp_delta (+2 on even predicted ordinals, −2 on odd),
    so QP_Y ACCUMULATES across the slice and the dequantization
    branch flips MB-to-MB within one slice — the within-slice QP
    bookkeeping real encoders exercise constantly. Returns
    (frames, cdcs, ldcs, deltas)."""
    mbs_w, mbs_h = 2 + i % 3, 2 + i % 2
    frames, cdcs, ldcs, deltas = [], [], [], []
    for f in range(1 + i % 3):
        sd = _N9_SEED_OFF + 4 * i + f
        y, cb, cr, cls, modes = _fixture_mode_frame(sd, mbs_w, mbs_h)
        n_mbs = len(cls)
        cdc = np.zeros((n_mbs, 2), np.int32)
        ldc = np.zeros((n_mbs, 16), np.int32)
        dq = np.zeros(n_mbs, np.int32)
        zz = _n4_dc_zz(sd)
        l_cb, l_cr = _n3_levels(sd)
        k = 0
        for mb in range(n_mbs):
            if not cls[mb]:
                continue
            qp = _n9_qp_of_ordinal(k)
            dq[mb] = 2 if k % 2 == 0 else -2
            k += 1
            cdc[mb] = (l_cb, l_cr)
            ldc[mb] = zz
            res_y = _n4_block_residuals(sd, qp)
            r_cb, r_cr = _n3_residuals(sd, qp)
            mbx, mby = mb % mbs_w, mb // mbs_w
            for bi in range(4):
                for bj in range(4):
                    y0_, x0_ = mby * 16 + 4 * bi, mbx * 16 + 4 * bj
                    sub = y[y0_ : y0_ + 4, x0_ : x0_ + 4].astype(np.int32)
                    y[y0_ : y0_ + 4, x0_ : x0_ + 4] = np.clip(
                        sub + res_y[bi * 4 + bj], 0, 255
                    )
            for pl, r_ in ((cb, r_cb), (cr, r_cr)):
                sub = pl[
                    mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                ].astype(np.int32)
                pl[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = (
                    np.clip(sub + r_, 0, 255)
                )
        frames.append((y, cb, cr, cls, modes))
        cdcs.append(cdc)
        ldcs.append(ldc)
        deltas.append(dq)
    return frames, cdcs, ldcs, deltas


def encode_qptrack_annexb(i: int) -> bytes:
    """Annex-B QP-tracking stream for clip ``i`` (base QP 34 in the
    PPS, per-MB deltas in the slice data)."""
    frames, cdcs, ldcs, deltas = _fixture_notch9(i)
    h, w = frames[0][0].shape
    mbs_w, mbs_h = w // 16, h // 16
    sps_nal, pps_nal = _gop_parameter_sets(mbs_w, mbs_h, _N9_BASE_QP)
    out = b"\x00\x00\x00\x01" + sps_nal + b"\x00\x00\x00\x01" + pps_nal
    for f, frame in enumerate(frames):
        for nal in _encode_picture_slices(
            frame, f, mbs_w, mbs_h,
            chroma_dc=cdcs[f], luma_dc=ldcs[f], qp_deltas=deltas[f],
        ):
            out += b"\x00\x00\x00\x01" + nal
    return out


def synthetic_h264_qptrack_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    rows = [(i, bytearray(encode_qptrack_annexb(i))) for i in range(n)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_qptrack_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: intra-slice QP tracking — every predicted MB
    carries a nonzero mb_qp_delta, QP_Y accumulates across the slice
    (spec 7.4.5), and the dequantization branch flips MB-to-MB (34 =
    rounding path, 36 = shift path) — the within-slice QP bookkeeping
    real rate-controlled streams exercise on every macroblock.
    Per-frame exact statistics under the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_qptrack_media(spark)),
        "media_id",
        "frame_idx",
    )


SQL_H264_QPTRACK_DECODE = _sql_h264_mode_matrix(
    True,
    seed_off=_N9_SEED_OFF,
    residuals=True,
    qp_cycle=(_N9_BASE_QP + 2, _N9_BASE_QP),
)


# ---------------------------------------------------------------------
# Notches 10/11 (round 9): 4x4 AC residuals + Intra_4x4 prediction —
# the boundary between the conformant-subset ladder and real encoder
# output. Notch 10 decodes I_16x16 macroblocks with cbp_luma = 15
# (Intra16x16ACLevel blocks under the scaled DC, spec 8.5.8/8.5.10)
# and the full chroma residual matrix (cbp_chroma 0/1/2, DC-only and
# DC+AC reconstruction). Notch 11 adds I_4x4 macroblocks: per-block
# prediction-mode syntax (spec 7.3.5.1, most-probable-mode inference
# of 8.3.1.1), all nine 4x4 prediction modes (8.3.1.2), me(v)-coded
# coded_block_pattern (Table 9-4), and LumaLevel4x4 residuals with
# per-4x4 CAVLC nC context.
#
# Correctness discipline (the notch-4/5 pattern): fixture planes are
# reconstructed by the EXPLICIT-LOOP twins below (`_x_*` — plain
# integer loops written from the published spec equations, sharing
# only constant tables with the decoder's numpy path), the encoder
# derives every syntax element from independent closed forms keyed on
# (clip, mb, blk), and the DuckDB oracle recomputes PCM sums from the
# closed-form sample formulas while the predicted-MB samples enter as
# embedded twin-generated arrays whose spatial/checksum arithmetic
# happens in SQL. Hash equality therefore proves the decoder
# recovered every sample through the real parse path.
# ---------------------------------------------------------------------


def _write_chroma_dc_block(w_: _BitWriter, coeffs: list[int]) -> int:
    """General 2x2 chroma-DC writer — the bit-exact inverse of
    ``_parse_cavlc_chroma_dc`` for ANY coefficient vector (the
    notch-3 ``_write_chroma_dc_level`` only emits single-coefficient
    blocks). Returns TotalCoeff."""
    nz = [k for k, v in enumerate(coeffs) if v != 0]
    tc = len(nz)
    t1s = 0
    for k in reversed(nz):
        if abs(coeffs[k]) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    code = _CHROMA_DC_TOKENS_INV[(t1s, tc)]
    w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
    if tc == 0:
        return 0
    _write_levels(w_, [coeffs[k] for k in reversed(nz)], tc, t1s)
    tz = nz[-1] + 1 - tc
    if tc < 4:
        code = _TOTAL_ZEROS_2X2_INV[tc][tz]
        w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
    zeros_left = tz
    for idx in range(tc - 1):
        if zeros_left <= 0:
            break
        run = nz[tc - 1 - idx] - nz[tc - 2 - idx] - 1
        code = _RUN_BEFORE_INV[min(zeros_left, 3)][run]
        w_.u(int(code, 2) if set(code) != {"0"} else 0, len(code))
        zeros_left -= run
    return tc


# -- closed-form syntax generators (shared by encoder, twin, oracle) --


def _n10_qp(i: int) -> int:
    """Per-clip QP sweeping 20..31 — both spec-8.5.12.1 scaling
    branches (rounding below 24, shift at >= 24) and, via Table 8-15,
    QPc values on both sides of the identity region."""
    return 20 + (i % 12)


def _n10_dc(i: int, mb: int) -> list[int]:
    """Intra16x16DCLevel zig-zag vector: 4..16 nonzeros at the low
    scan band — sweeps coeff_token TotalCoeff classes and, at
    TotalCoeff < 16, the 4x4 total_zeros tables."""
    n = 4 + (i + mb) % 13
    return [
        (1 + (i + 3 * mb + 5 * k) % 7)
        * (1 if (i + mb + k) % 2 == 0 else -1)
        if k < n
        else 0
        for k in range(16)
    ]


def _n10_ac15(i: int, mb: int, blk: int, tag: int) -> list[int]:
    """15-coefficient AC vector (Intra16x16ACLevel / ChromaACLevel):
    0..6 nonzeros at alternating scan positions (run_before > 0 on
    every gap), magnitudes 1..19 (exercises suffix-length growth).
    ``tag`` separates the luma (0) / Cb (1) / Cr (2) streams."""
    n = (i + 2 * mb + 3 * blk + tag) % 7
    out = [0] * 15
    for j in range(n):
        pos = (2 * j + (i + blk + tag) % 2) % 15
        out[pos] = (1 + (i + mb + 2 * blk + 5 * j + tag) % 19) * (
            1 if (i + blk + j + tag) % 2 == 0 else -1
        )
    return out


def _n10_lv16(i: int, mb: int, blk: int) -> list[int]:
    """16-coefficient LumaLevel4x4 vector for coded I_4x4 blocks:
    1..8 nonzeros, magnitudes 1..23."""
    n = 1 + (i + mb + 2 * blk) % 8
    out = [0] * 16
    for j in range(n):
        pos = (2 * j + (i + blk) % 2) % 16
        out[pos] = (1 + (i + 3 * mb + blk + 7 * j) % 23) * (
            1 if (mb + blk + j) % 2 == 0 else -1
        )
    return out


def _n10_cdc(i: int, mb: int, p: int) -> list[int]:
    """2x2 ChromaDCLevel vector (plane ``p``): values in -2..2 —
    sweeps TotalCoeff 0..4 of the nC = -1 coeff_token table."""
    return [((i + 2 * mb + 3 * k + 5 * p) % 5) - 2 for k in range(4)]


def _n10_kind(i: int, mbx: int, with_i4x4: bool) -> int:
    """Predicted-MB kind: 1 = I_16x16 with AC, 2 = I_4x4."""
    if with_i4x4 and (i + mbx) % 2 == 1:
        return 2
    return 1


def _n10_i16_params(i: int, mbx: int) -> tuple[int, int, int]:
    """(luma pred mode, chroma pred mode, cbp_chroma) for an I_16x16
    AC macroblock — all four luma and chroma modes and all three
    chroma CBP classes occur across the corpus."""
    return (i + mbx) % 4, (i + 2 * mbx + 1) % 4, (i + mbx) % 3


def _n10_i4_params(i: int, mbx: int) -> tuple[int, int, int]:
    """(cbp_luma, chroma pred mode, cbp_chroma) for an I_4x4
    macroblock. cbp_luma mixes ``i >> 1`` so it is parity-free under
    the kind selector's (i + mbx) % 2 == 1 constraint — the corpus
    sweeps ALL 16 luma CBP patterns (tests/test_h264_ac.py pins
    that)."""
    return (
        (5 * (i >> 1) + 3 * mbx) % 16,
        (i + 2 * mbx) % 4,
        (i + mbx + 1) % 3,
    )


def _n10_i4_mode(i: int, mb: int, blk: int) -> int:
    """Intra4x4PredMode for luma block ``blk`` — cycles all nine
    spec-8.3.1.2 modes."""
    return (i + mb + blk) % 9


# -- explicit-loop reconstruction twins (independent of the decoder) --


def _x_clip1(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _x_dequant4(zz: list[int], qp: int, dc: int | None = None):
    """Spec 8.5.12.1 scaling, explicit loops: returns a 4x4 list of
    lists. With ``dc`` the 15 entries are AC scan positions 1..15 and
    d[0][0] is the externally-scaled DC."""
    d = [[0] * 4 for _ in range(4)]
    off = 0 if dc is None else 1
    for k, lvl in enumerate(zz):
        if lvl == 0:
            continue
        i_, j_ = _ZZ4[k + off]
        if i_ % 2 == 0 and j_ % 2 == 0:
            v = _V4[qp % 6][0]
        elif i_ % 2 == 1 and j_ % 2 == 1:
            v = _V4[qp % 6][1]
        else:
            v = _V4[qp % 6][2]
        if qp >= 24:
            d[i_][j_] = (lvl * v) << (qp // 6 - 4)
        else:
            d[i_][j_] = (lvl * v + (1 << (3 - qp // 6))) >> (4 - qp // 6)
    if dc is not None:
        d[0][0] = dc
    return d


def _x_itrans4(d) -> list:
    """Spec 8.5.12.2 inverse core transform, explicit butterflies on
    plain lists; returns the 4x4 residual."""
    f = [[0] * 4 for _ in range(4)]
    for i_ in range(4):
        e0 = d[i_][0] + d[i_][2]
        e1 = d[i_][0] - d[i_][2]
        e2 = (d[i_][1] >> 1) - d[i_][3]
        e3 = d[i_][1] + (d[i_][3] >> 1)
        f[i_] = [e0 + e3, e1 + e2, e1 - e2, e0 - e3]
    out = [[0] * 4 for _ in range(4)]
    for j_ in range(4):
        g0 = f[0][j_] + f[2][j_]
        g1 = f[0][j_] - f[2][j_]
        g2 = (f[1][j_] >> 1) - f[3][j_]
        g3 = f[1][j_] + (f[3][j_] >> 1)
        col = [g0 + g3, g1 + g2, g1 - g2, g0 - g3]
        for i_ in range(4):
            out[i_][j_] = (col[i_] + 32) >> 6
    return out


def _x_luma_dcmat(zz: list[int], qp: int) -> list:
    """Spec 8.5.10 luma-DC: explicit 4x4 Hadamard + scaling; returns
    the raw dcY matrix (block row x block col)."""
    c = [[0] * 4 for _ in range(4)]
    for k, (r_, c_) in enumerate(_ZZ4):
        c[r_][c_] = zz[k]
    ls = _LS00[qp % 6]
    out = [[0] * 4 for _ in range(4)]
    for bi in range(4):
        for bj in range(4):
            f = sum(
                _H4_LIST[bi][k] * c[k][l] * _H4_LIST[l][bj]
                for k in range(4)
                for l in range(4)
            )
            if qp >= 36:
                out[bi][bj] = (f * ls) << (qp // 6 - 6)
            else:
                out[bi][bj] = (f * ls + (1 << (5 - qp // 6))) >> (
                    6 - qp // 6
                )
    return out


def _x_chroma_dcraw(coeffs: list[int], qpc: int) -> list[int]:
    """Spec 8.5.11 chroma-DC: explicit 2x2 inverse Hadamard +
    scaling; returns the 4 raw dcC values in block raster order."""
    c00, c01, c10, c11 = coeffs
    f = [
        c00 + c01 + c10 + c11,
        c00 - c01 + c10 - c11,
        c00 + c01 - c10 - c11,
        c00 - c01 - c10 + c11,
    ]
    ls = _LS00[qpc % 6]
    return [(fv * ls << (qpc // 6)) >> 5 for fv in f]


def _x_pred4(
    y: np.ndarray,
    r4: int,
    c4: int,
    mode: int,
    a_l: bool,
    a_t: bool,
    a_tl: bool,
    a_tr: bool,
) -> list:
    """Explicit-loop twin of the nine Intra_4x4 prediction modes,
    written directly from the spec-8.3.1.2 sample equations with
    p[x, -1] / p[-1, y] / p[-1, -1] accessors (the decoder's numpy
    kernel derives the same equations through zVR/zHD branch
    grouping). Unavailable top-right samples substitute p[3, -1]."""
    y0, x0 = 4 * r4, 4 * c4
    lft = [int(y[y0 + k, x0 - 1]) for k in range(4)] if a_l else None
    top = [int(y[y0 - 1, x0 + k]) for k in range(4)] if a_t else None
    cor = int(y[y0 - 1, x0 - 1]) if a_tl else None
    if a_t:
        ext = top + (
            [int(y[y0 - 1, x0 + 4 + k]) for k in range(4)]
            if a_tr
            else [top[3]] * 4
        )
    else:
        ext = None

    def pt(xx: int) -> int:  # p[xx, -1], xx in -1..7
        return cor if xx < 0 else ext[xx]

    def pl(yy: int) -> int:  # p[-1, yy], yy in -1..3
        return cor if yy < 0 else lft[yy]

    p = [[0] * 4 for _ in range(4)]
    for yy in range(4):
        for xx in range(4):
            if mode == 0:
                v = top[xx]
            elif mode == 1:
                v = lft[yy]
            elif mode == 2:
                if a_t and a_l:
                    v = (sum(top) + sum(lft) + 4) >> 3
                elif a_l:
                    v = (sum(lft) + 2) >> 2
                elif a_t:
                    v = (sum(top) + 2) >> 2
                else:
                    v = 128
            elif mode == 3:  # Diagonal Down-Left (8.3.1.2.4)
                if xx == 3 and yy == 3:
                    v = (ext[6] + 3 * ext[7] + 2) >> 2
                else:
                    v = (
                        ext[xx + yy]
                        + 2 * ext[xx + yy + 1]
                        + ext[xx + yy + 2]
                        + 2
                    ) >> 2
            elif mode == 4:  # Diagonal Down-Right (8.3.1.2.5)
                if xx > yy:
                    v = (
                        pt(xx - yy - 2) + 2 * pt(xx - yy - 1)
                        + pt(xx - yy) + 2
                    ) >> 2
                elif xx < yy:
                    v = (
                        pl(yy - xx - 2) + 2 * pl(yy - xx - 1)
                        + pl(yy - xx) + 2
                    ) >> 2
                else:
                    v = (pt(0) + 2 * cor + pl(0) + 2) >> 2
            elif mode == 5:  # Vertical-Right (8.3.1.2.6)
                z = 2 * xx - yy
                if z >= 0 and z % 2 == 0:
                    v = (
                        pt(xx - (yy >> 1) - 1) + pt(xx - (yy >> 1)) + 1
                    ) >> 1
                elif z >= 0:
                    v = (
                        pt(xx - (yy >> 1) - 2)
                        + 2 * pt(xx - (yy >> 1) - 1)
                        + pt(xx - (yy >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    v = (pl(0) + 2 * cor + pt(0) + 2) >> 2
                else:
                    v = (
                        pl(yy - 1) + 2 * pl(yy - 2) + pl(yy - 3) + 2
                    ) >> 2
            elif mode == 6:  # Horizontal-Down (8.3.1.2.7)
                z = 2 * yy - xx
                if z >= 0 and z % 2 == 0:
                    v = (
                        pl(yy - (xx >> 1) - 1) + pl(yy - (xx >> 1)) + 1
                    ) >> 1
                elif z >= 0:
                    v = (
                        pl(yy - (xx >> 1) - 2)
                        + 2 * pl(yy - (xx >> 1) - 1)
                        + pl(yy - (xx >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    v = (pl(0) + 2 * cor + pt(0) + 2) >> 2
                else:
                    v = (
                        pt(xx - 1) + 2 * pt(xx - 2) + pt(xx - 3) + 2
                    ) >> 2
            elif mode == 7:  # Vertical-Left (8.3.1.2.8)
                if yy % 2 == 0:
                    v = (
                        ext[xx + (yy >> 1)] + ext[xx + (yy >> 1) + 1] + 1
                    ) >> 1
                else:
                    v = (
                        ext[xx + (yy >> 1)]
                        + 2 * ext[xx + (yy >> 1) + 1]
                        + ext[xx + (yy >> 1) + 2]
                        + 2
                    ) >> 2
            else:  # mode 8, Horizontal-Up (8.3.1.2.9)
                z = xx + 2 * yy
                if z < 5 and z % 2 == 0:
                    v = (
                        lft[yy + (xx >> 1)] + lft[yy + (xx >> 1) + 1] + 1
                    ) >> 1
                elif z < 5:
                    v = (
                        lft[yy + (xx >> 1)]
                        + 2 * lft[yy + (xx >> 1) + 1]
                        + lft[yy + (xx >> 1) + 2]
                        + 2
                    ) >> 2
                elif z == 5:
                    v = (lft[2] + 3 * lft[3] + 2) >> 2
                else:
                    v = lft[3]
            p[yy][xx] = v
    return p


def _n10_frame(i: int, with_i4x4: bool):
    """Expected reconstruction for AC clip ``i`` via the explicit
    twins: a (3 + i%2) x 2 MB grid, PCM everywhere except MB row 1
    columns >= 1 (every predicted MB has PCM/earlier-reconstructed
    left, top, corner and top-right context). Returns
    (Y, Cb, Cr, kinds) with kinds[mb] in {0: I_PCM, 1: I_16x16-AC,
    2: I_4x4}."""
    qp = _n10_qp(i)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h = 3 + i % 2, 2
    n_mbs = mbs_w * mbs_h
    y = np.zeros((16 * mbs_h, 16 * mbs_w), np.uint8)
    cb = np.zeros((8 * mbs_h, 8 * mbs_w), np.uint8)
    cr = np.zeros((8 * mbs_h, 8 * mbs_w), np.uint8)
    kinds = [0] * n_mbs
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        for o in range(256):
            y[mby * 16 + o // 16, mbx * 16 + o % 16] = (
                7 * i + 13 * ((mb * 256 + o) // 4)
            ) % 256
        for o in range(64):
            cb[mby * 8 + o // 8, mbx * 8 + o % 8] = (
                11 * i + 17 * (mb * 64 + o)
            ) % 256
            cr[mby * 8 + o // 8, mbx * 8 + o % 8] = (
                19 * i + 23 * (mb * 64 + o)
            ) % 256
        if mby == 1 and mbx >= 1:
            kinds[mb] = _n10_kind(i, mbx, with_i4x4)

    # per-4x4 luma decode state for availability (the twin's analogue
    # of the decoder's tc4 >= 0 check); PCM MBs complete atomically
    done4 = np.zeros((4 * mbs_h, 4 * mbs_w), bool)

    def add_clip(plane, y0: int, x0: int, res) -> None:
        for yy in range(4):
            for xx in range(4):
                plane[y0 + yy, x0 + xx] = _x_clip1(
                    int(plane[y0 + yy, x0 + xx]) + res[yy][xx]
                )

    def chroma_recon(mb: int, mbx: int, mby: int, cm: int, cc: int):
        for pl_ in (cb, cr):
            cy0, cx0 = mby * 8, mbx * 8
            ct = [int(pl_[cy0 - 1, cx0 + x]) for x in range(8)]
            cl = [int(pl_[cy0 + yy, cx0 - 1]) for yy in range(8)]
            cco = int(pl_[cy0 - 1, cx0 - 1])
            for yy in range(8):
                for x in range(8):
                    if cm == 1:
                        v = cl[yy]
                    elif cm == 2:
                        v = ct[x]
                    elif cm == 3:
                        hs = sum(
                            (xp + 1)
                            * (
                                ([cco] + ct)[5 + xp]
                                - ([cco] + ct)[3 - xp]
                            )
                            for xp in range(4)
                        )
                        vs = sum(
                            (yp + 1)
                            * (
                                ([cco] + cl)[5 + yp]
                                - ([cco] + cl)[3 - yp]
                            )
                            for yp in range(4)
                        )
                        a = 16 * (ct[7] + cl[7])
                        b = (17 * hs + 16) >> 5
                        c_ = (17 * vs + 16) >> 5
                        v = _x_clip1(
                            (a + b * (x - 3) + c_ * (yy - 3) + 16) >> 5
                        )
                    else:  # DC, per-4x4 corner rule
                        if x < 4 and yy < 4:
                            v = (sum(ct[:4]) + sum(cl[:4]) + 4) >> 3
                        elif x >= 4 and yy < 4:
                            v = (sum(ct[4:]) + 2) >> 2
                        elif x < 4 and yy >= 4:
                            v = (sum(cl[4:]) + 2) >> 2
                        else:
                            v = (sum(ct[4:]) + sum(cl[4:]) + 4) >> 3
                    pl_[cy0 + yy, cx0 + x] = v
        if cc == 0:
            return
        for p_, pl_ in ((0, cb), (1, cr)):
            raw = _x_chroma_dcraw(_n10_cdc(i, mb, p_), qpc)
            for bk in range(4):
                by, bx = 4 * (bk // 2), 4 * (bk % 2)
                y0_, x0_ = mby * 8 + by, mbx * 8 + bx
                if cc == 2:
                    res = _x_itrans4(
                        _x_dequant4(
                            _n10_ac15(i, mb, bk, 1 + p_), qpc,
                            dc=raw[bk],
                        )
                    )
                    add_clip(pl_, y0_, x0_, res)
                else:
                    u = (raw[bk] + 32) >> 6
                    add_clip(pl_, y0_, x0_, [[u] * 4] * 4)

    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        if kinds[mb] == 0:
            done4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
            continue
        y0, x0 = mby * 16, mbx * 16
        if kinds[mb] == 1:
            pm16, cm, cc = _n10_i16_params(i, mbx)
            top = [int(y[y0 - 1, x0 + x]) for x in range(16)]
            left = [int(y[y0 + yy, x0 - 1]) for yy in range(16)]
            corner = int(y[y0 - 1, x0 - 1])
            for yy in range(16):
                for x in range(16):
                    if pm16 == 0:
                        v = top[x]
                    elif pm16 == 1:
                        v = left[yy]
                    elif pm16 == 2:
                        v = (sum(top) + sum(left) + 16) >> 5
                    else:
                        et = [corner] + top
                        el = [corner] + left
                        hs = sum(
                            (xp + 1) * (et[9 + xp] - et[7 - xp])
                            for xp in range(8)
                        )
                        vs = sum(
                            (yp + 1) * (el[9 + yp] - el[7 - yp])
                            for yp in range(8)
                        )
                        a = 16 * (et[16] + el[16])
                        b = (5 * hs + 32) >> 6
                        c_ = (5 * vs + 32) >> 6
                        v = _x_clip1(
                            (a + b * (x - 7) + c_ * (yy - 7) + 16) >> 5
                        )
                    y[y0 + yy, x0 + x] = v
            dcm = _x_luma_dcmat(_n10_dc(i, mb), qp)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                res = _x_itrans4(
                    _x_dequant4(
                        _n10_ac15(i, mb, blk, 0), qp, dc=dcm[bi][bj]
                    )
                )
                add_clip(y, y0 + 4 * bi, x0 + 4 * bj, res)
            chroma_recon(mb, mbx, mby, cm, cc)
            done4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
        else:  # I_4x4
            cbp_luma, cm, cc = _n10_i4_params(i, mbx)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                a_l = c4 > 0 and done4[r4, c4 - 1]
                a_t = r4 > 0 and done4[r4 - 1, c4]
                a_tl = r4 > 0 and c4 > 0 and done4[r4 - 1, c4 - 1]
                a_tr = (
                    r4 > 0
                    and c4 + 1 < 4 * mbs_w
                    and done4[r4 - 1, c4 + 1]
                )
                pred = _x_pred4(
                    y, r4, c4, _n10_i4_mode(i, mb, blk),
                    a_l, a_t, a_tl, a_tr,
                )
                if cbp_luma & (1 << (blk // 4)):
                    res = _x_itrans4(
                        _x_dequant4(_n10_lv16(i, mb, blk), qp)
                    )
                    for yy in range(4):
                        for xx in range(4):
                            pred[yy][xx] = _x_clip1(
                                pred[yy][xx] + res[yy][xx]
                            )
                for yy in range(4):
                    for xx in range(4):
                        y[4 * r4 + yy, 4 * c4 + xx] = _x_clip1(
                            pred[yy][xx]
                        )
                done4[r4, c4] = True
            chroma_recon(mb, mbx, mby, cm, cc)
    return y, cb, cr, kinds


def encode_ac_annexb(i: int, with_i4x4: bool = False) -> bytes:
    """Annex-B encoder for the notch-10/11 corpora: I_PCM context
    macroblocks (samples from the closed-form planes), I_16x16
    macroblocks with cbp_luma = 15 (dense-or-sparse DC + 16
    Intra16x16ACLevel blocks), optional I_4x4 macroblocks (per-block
    mode syntax with most-probable-mode inference, Table 9-4 me(v)
    CBP, LumaLevel4x4 residuals), and the full chroma residual matrix
    — every residual block written through the general CAVLC writers
    in the real per-4x4 nC context."""
    y, cb, cr, kinds = _n10_frame(i, with_i4x4)
    qp = _n10_qp(i)
    mbs_w, mbs_h = 3 + i % 2, 2

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
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

    sl = _BitWriter()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0); sl.u(0, 4)
    sl.u(0, 1); sl.u(0, 1); sl.se(0); sl.ue(1)  # deblocking OFF

    tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
    ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
    mode4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)

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

    def write_chroma(mb: int, mbx: int, mby: int, cc: int) -> None:
        if cc == 0:
            ctc4[:, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2] = 0
            return
        _write_chroma_dc_block(sl, _n10_cdc(i, mb, 0))
        _write_chroma_dc_block(sl, _n10_cdc(i, mb, 1))
        for p_ in range(2):
            for bk in range(4):
                rr = 2 * mby + bk // 2
                cc_ = 2 * mbx + bk % 2
                if cc == 2:
                    n_c = ncof(ctc4[p_], rr, cc_)
                    ctc4[p_, rr, cc_] = _write_residual_4x4(
                        sl, _n10_ac15(i, mb, bk, 1 + p_), n_c, 15
                    )
                else:
                    ctc4[p_, rr, cc_] = 0

    for mb in range(mbs_w * mbs_h):
        mbx, mby = mb % mbs_w, mb // mbs_w
        if kinds[mb] == 0:
            sl.ue(25)
            sl.align_zero()
            sl.raw_bytes(
                y[mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16]
                .astype(np.uint8).tobytes()
            )
            sl.raw_bytes(
                cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                .astype(np.uint8).tobytes()
            )
            sl.raw_bytes(
                cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                .astype(np.uint8).tobytes()
            )
            tc4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = 16
            ctc4[:, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2] = 16
        elif kinds[mb] == 1:
            pm16, cm, cc = _n10_i16_params(i, mbx)
            sl.ue(1 + pm16 + 4 * cc + 12)  # Table 7-11, cbp_luma 15
            sl.ue(cm)
            sl.se(0)  # mb_qp_delta
            n_c = ncof(tc4, 4 * mby, 4 * mbx)
            _write_residual_4x4(sl, _n10_dc(i, mb), n_c, 16)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                n_c = ncof(tc4, r4, c4)
                tc4[r4, c4] = _write_residual_4x4(
                    sl, _n10_ac15(i, mb, blk, 0), n_c, 15
                )
            write_chroma(mb, mbx, mby, cc)
        else:  # I_4x4
            cbp_luma, cm, cc = _n10_i4_params(i, mbx)
            sl.ue(0)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                a_a = c4 > 0 and (
                    tc4[r4, c4 - 1] >= 0 or mode4[r4, c4 - 1] >= 0
                )
                a_b = r4 > 0 and (
                    tc4[r4 - 1, c4] >= 0 or mode4[r4 - 1, c4] >= 0
                )
                if not (a_a and a_b):
                    pred = 2
                else:
                    ma = int(mode4[r4, c4 - 1])
                    mb_ = int(mode4[r4 - 1, c4])
                    pred = min(
                        ma if ma >= 0 else 2, mb_ if mb_ >= 0 else 2
                    )
                md = _n10_i4_mode(i, mb, blk)
                if md == pred:
                    sl.u(1, 1)
                else:
                    sl.u(0, 1)
                    sl.u(md - (1 if md > pred else 0), 3)
                mode4[r4, c4] = md
            sl.ue(cm)
            sl.ue(_CBP_INTRA_INV[cbp_luma + 16 * cc])
            if cbp_luma + 16 * cc:
                sl.se(0)  # mb_qp_delta
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                if cbp_luma & (1 << (blk // 4)):
                    n_c = ncof(tc4, r4, c4)
                    tc4[r4, c4] = _write_residual_4x4(
                        sl, _n10_lv16(i, mb, blk), n_c, 16
                    )
                else:
                    tc4[r4, c4] = 0
            write_chroma(mb, mbx, mby, cc)
    sl.rbsp_trailing()

    def nal(ref_idc: int, nal_type: int, w_: _BitWriter) -> bytes:
        header = bytes([(ref_idc << 5) | nal_type])
        return b"\x00\x00\x00\x01" + header + _escape_ebsp(w_.tobytes())

    return nal(3, 7, sps) + nal(3, 8, pps) + nal(3, 5, sl)


def synthetic_h264_ac_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_ac_annexb(i, False))) for i in range(n)],
        "media_id long, payload binary",
    )


def synthetic_h264_i4x4_media(
    spark: SparkSession, n: int = _N_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_ac_annexb(i, True))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_ac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 10): decode 24 streams whose I_16x16
    macroblocks carry FULL 4x4 AC residuals — cbp_luma 15
    (Intra16x16ACLevel under the spec-8.5.8 scaled DC), the complete
    chroma residual matrix (cbp_chroma 0/1/2 with general 2x2 DC
    blocks and ChromaACLevel), Table 9-7 total_zeros / Table 9-10
    run_before on every block, the spec-8.5.12 AC scaling + 4x4
    inverse core transform, across QP 20..31 (both scaling branches)
    — plane sums and the MB-order luma checksum under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_ac_media(spark)), "media_id"
    )


def q_h264_i4x4_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 11): notch 10 plus Intra_4x4 macroblocks —
    per-block prediction-mode syntax with the spec-8.3.1.1
    most-probable-mode inference, ALL NINE spec-8.3.1.2 4x4 modes
    (incl. decode-order top-right availability + substitution),
    Table 9-4 me(v) coded_block_pattern, and LumaLevel4x4 residuals
    in the real per-4x4 CAVLC nC context — the last structure between
    this ladder and real baseline-encoder I-frame output."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_frame_stats(synthetic_h264_i4x4_media(spark)), "media_id"
    )


def _n10_pred_arrays(i: int, with_i4x4: bool):
    """Oracle embedding for clip ``i``: predicted-MB addresses and
    their twin-reconstructed samples (flattened raster per MB)."""
    y, cb, cr, kinds = _n10_frame(i, with_i4x4)
    mbs_w = 3 + i % 2
    pm: list[int] = []
    py: list[int] = []
    pcb: list[int] = []
    pcr: list[int] = []
    for mb, k in enumerate(kinds):
        if k == 0:
            continue
        mbx, mby = mb % mbs_w, mb // mbs_w
        pm.append(mb)
        py.extend(
            int(v)
            for v in y[
                mby * 16 : mby * 16 + 16, mbx * 16 : mbx * 16 + 16
            ].reshape(-1)
        )
        pcb.extend(
            int(v)
            for v in cb[
                mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
            ].reshape(-1)
        )
        pcr.extend(
            int(v)
            for v in cr[
                mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
            ].reshape(-1)
        )
    return pm, py, pcb, pcr


def _sql_h264_ac(with_i4x4: bool) -> str:
    """DuckDB oracle for the notch-10/11 corpora: PCM plane sums and
    checksum terms from the closed-form sample formulas (pure SQL
    integer arithmetic, as every earlier notch); predicted-MB samples
    from the embedded explicit-twin arrays (``_n10_pred_arrays``) with
    the spatial position mapping, MB-order checksum weights, and all
    aggregation recomputed in SQL."""
    pm_l, py_l, pcb_l, pcr_l = [], [], [], []
    for i in range(_N_CLIPS):
        pm, py, pcb, pcr = _n10_pred_arrays(i, with_i4x4)
        pm_l.append(pm)
        py_l.append(py)
        pcb_l.append(pcb)
        pcr_l.append(pcr)
    y_v = "(7 * media_id + 13 * ((mb * 256 + o.o) // 4)) % 256"
    cb_v = "(11 * media_id + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * media_id + 23 * (mb * 64 + o.o)) % 256"
    return f"""
WITH clip AS (
  SELECT i AS media_id, 3 + i % 2 AS mbs_w, 2 AS mbs_h,
         pm.v AS pm, py.v AS py, pcb.v AS pcb, pcr.v AS pcr
  FROM range({_N_CLIPS}) t(i)
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({pm_l!r}) AS v) pm ON pm.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({py_l!r}) AS v) py ON py.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({pcb_l!r}) AS v) pcb ON pcb.j = i
  JOIN (SELECT UNNEST(range({_N_CLIPS})) AS j,
               UNNEST({pcr_l!r}) AS v) pcr ON pcr.j = i
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM clip, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma_pcm AS (
  SELECT media_id, SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
luma_pred AS (
  SELECT media_id, SUM(py[k.k + 1]) AS s,
         SUM((pm[k.k // 256 + 1] * 256 + k.k % 256 + 1)
             * py[k.k + 1]) AS ck
  FROM clip, LATERAL (SELECT UNNEST(range(len(py))) AS k) k
  GROUP BY media_id
),
chroma_pcm AS (
  SELECT media_id, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE NOT (mbx > 0 AND mby > 0)
  GROUP BY media_id
),
chroma_pred AS (
  SELECT media_id, SUM(pcb[k.k + 1]) AS scb, SUM(pcr[k.k + 1]) AS scr
  FROM clip, LATERAL (SELECT UNNEST(range(len(pcb))) AS k) k
  GROUP BY media_id
)
SELECT c.media_id,
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + lr.s AS BIGINT) AS sum_y,
       CAST(cp.scb + cr2.scb AS BIGINT) AS sum_cb,
       CAST(cp.scr + cr2.scr AS BIGINT) AS sum_cr,
       CAST((lp.ck + lr.ck) % {_CK_MOD} AS BIGINT) AS ck_y
FROM clip c
JOIN luma_pcm lp ON lp.media_id = c.media_id
JOIN luma_pred lr ON lr.media_id = c.media_id
JOIN chroma_pcm cp ON cp.media_id = c.media_id
JOIN chroma_pred cr2 ON cr2.media_id = c.media_id
ORDER BY c.media_id
"""


# SQL_H264_AC_DECODE / SQL_H264_I4X4_DECODE resolve lazily via the
# module __getattr__ at the end of this file: building them runs the
# explicit-loop twin over 48 clips (~0.3 s) that only the oracle
# harness needs — executor Python workers importing this module for a
# decode stage must not pay it.


# ---------------------------------------------------------------------
# Notch 12: the regenerated composition corpus — GOP x multi-PPS x
# multi-slice x AC x I_4x4 in ONE stream. Each clip is 2-3 IDR
# pictures on a (2 + i%2) x 3 MB grid; pictures alternate between two
# PPSs with different init_qp; every picture is split into two slices
# (rows 0-1 / row 2), so row-2 predicted macroblocks decode with
# their top edge SLICE-GATED away (spec 8.3/9.2.1 availability):
# left-constrained prediction modes, left-only CAVLC nC, chroma DC
# fallbacks — composed with the full notch-10/11 residual machinery.
# ---------------------------------------------------------------------

_N12_CLIPS = 12


def _n12_geom(i: int) -> tuple[int, int, int]:
    """(mbs_w, mbs_h, n_frames) for ladder clip ``i``."""
    return 2 + i % 2, 3, 2 + i % 2


def _n12_qp(i: int, f: int) -> int:
    """Picture f's QP: PPS ``f % 2`` selects init_qp or init_qp+4."""
    return _n10_qp(i) + 4 * (f % 2)


def _n12_kind(i: int, f: int, mbx: int, mby: int) -> int:
    return 2 if (i + f + mbx + mby) % 2 else 1


def _n12_i16_mode(i: int, f: int, mbx: int, mby: int) -> int:
    """Luma I_16x16 mode; row 2 (top edge in the other slice) is
    restricted to Horizontal / DC."""
    if mby == 2:
        return 1 + (i + f + mbx) % 2
    return (i + f + mbx) % 4


def _n12_cmode(i: int, f: int, mbx: int, mby: int) -> int:
    """Chroma mode; row 2 restricted to DC / Horizontal."""
    if mby == 2:
        return (i + mbx + f) % 2
    return (i + 2 * mbx + f) % 4


def _n12_cc(i: int, f: int, mbx: int, mby: int) -> int:
    return (i + f + mbx + mby) % 3


def _n12_i4_mode(i: int, km: int, blk: int, top_gated: bool) -> int:
    """I_4x4 block mode; blocks on the macroblock's top row of a
    slice-gated MB only get left-legal modes (H / DC /
    Horizontal-Up)."""
    if top_gated:
        return (1, 2, 8)[(i + km + blk) % 3]
    return (i + km + blk) % 9


def _n12_i4_cbp(i: int, f: int, mbx: int, mby: int) -> int:
    return (5 * (i >> 1) + 3 * mbx + 7 * f + mby) % 16


def _n12_frame(i: int, f: int):
    """Explicit-twin reconstruction of ladder picture (clip i, frame
    f): PCM on row 0 and column 0, notch-10/11 predicted MBs on rows
    1-2 columns >= 1, with row 2 in its OWN slice — every
    availability lookup (prediction edges, most-probable-mode, CAVLC
    nC) is gated to the slice, mirroring spec 8.3/9.2.1."""
    qp = _n12_qp(i, f)
    qpc = _qpc_of(qp)
    mbs_w, mbs_h, _ = _n12_geom(i)
    n_mbs = mbs_w * mbs_h
    y = np.zeros((16 * mbs_h, 16 * mbs_w), np.uint8)
    cb = np.zeros((8 * mbs_h, 8 * mbs_w), np.uint8)
    cr = np.zeros((8 * mbs_h, 8 * mbs_w), np.uint8)
    kinds = [0] * n_mbs
    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        for o in range(256):
            y[mby * 16 + o // 16, mbx * 16 + o % 16] = (
                7 * i + 31 * f + 13 * ((mb * 256 + o) // 4)
            ) % 256
        for o in range(64):
            cb[mby * 8 + o // 8, mbx * 8 + o % 8] = (
                11 * i + 29 * f + 17 * (mb * 64 + o)
            ) % 256
            cr[mby * 8 + o // 8, mbx * 8 + o % 8] = (
                19 * i + 37 * f + 23 * (mb * 64 + o)
            ) % 256
        if mby >= 1 and mbx >= 1:
            kinds[mb] = _n12_kind(i, f, mbx, mby)

    def slice_of_mb(mb: int) -> int:
        return 0 if mb // mbs_w < 2 else 1

    # done + slice id per 4x4 luma cell; availability requires BOTH
    done4 = np.zeros((4 * mbs_h, 4 * mbs_w), bool)
    sl4 = np.zeros((4 * mbs_h, 4 * mbs_w), np.int32)

    def avail4(r4: int, c4: int, cur_slice: int) -> bool:
        if r4 < 0 or c4 < 0 or r4 >= 4 * mbs_h or c4 >= 4 * mbs_w:
            return False
        return bool(done4[r4, c4]) and int(sl4[r4, c4]) == cur_slice

    def add_clip(plane, y0: int, x0: int, res) -> None:
        for yy in range(4):
            for xx in range(4):
                plane[y0 + yy, x0 + xx] = _x_clip1(
                    int(plane[y0 + yy, x0 + xx]) + res[yy][xx]
                )

    def chroma_recon(
        mb: int, mbx: int, mby: int, km: int,
        cm: int, cc: int, top_ok: bool, left_ok: bool,
    ) -> None:
        for pl_ in (cb, cr):
            cy0, cx0 = mby * 8, mbx * 8
            ct = (
                [int(pl_[cy0 - 1, cx0 + x]) for x in range(8)]
                if top_ok
                else None
            )
            cl = (
                [int(pl_[cy0 + yy, cx0 - 1]) for yy in range(8)]
                if left_ok
                else None
            )
            for yy in range(8):
                for x in range(8):
                    if cm == 1:
                        v = cl[yy]
                    elif cm == 2:
                        v = ct[x]
                    elif cm == 3:
                        cco = int(pl_[cy0 - 1, cx0 - 1])
                        hs = sum(
                            (xp + 1)
                            * (([cco] + ct)[5 + xp] - ([cco] + ct)[3 - xp])
                            for xp in range(4)
                        )
                        vs = sum(
                            (yp + 1)
                            * (([cco] + cl)[5 + yp] - ([cco] + cl)[3 - yp])
                            for yp in range(4)
                        )
                        a = 16 * (ct[7] + cl[7])
                        b = (17 * hs + 16) >> 5
                        c_ = (17 * vs + 16) >> 5
                        v = _x_clip1(
                            (a + b * (x - 3) + c_ * (yy - 3) + 16) >> 5
                        )
                    else:  # DC, per-4x4 corner rule with edge fallback
                        qx, qy = x >= 4, yy >= 4
                        ts = sum(ct[4:] if qx else ct[:4]) if top_ok else None
                        ls = sum(cl[4:] if qy else cl[:4]) if left_ok else None
                        if not qx and not qy or (qx and qy):
                            if top_ok and left_ok:
                                v = (ts + ls + 4) >> 3
                            elif left_ok:
                                v = (ls + 2) >> 2
                            elif top_ok:
                                v = (ts + 2) >> 2
                            else:
                                v = 128
                        elif qx:  # (4, 0) corner: top preferred
                            if top_ok:
                                v = (ts + 2) >> 2
                            elif left_ok:
                                v = (ls + 2) >> 2
                            else:
                                v = 128
                        else:  # (0, 4) corner: left preferred
                            if left_ok:
                                v = (ls + 2) >> 2
                            elif top_ok:
                                v = (ts + 2) >> 2
                            else:
                                v = 128
                    pl_[cy0 + yy, cx0 + x] = v
        if cc == 0:
            return
        for p_, pl_ in ((0, cb), (1, cr)):
            raw = _x_chroma_dcraw(_n10_cdc(i, km, p_), qpc)
            for bk in range(4):
                y0_, x0_ = mby * 8 + 4 * (bk // 2), mbx * 8 + 4 * (bk % 2)
                if cc == 2:
                    res = _x_itrans4(
                        _x_dequant4(
                            _n10_ac15(i, km, bk, 1 + p_), qpc, dc=raw[bk]
                        )
                    )
                    add_clip(pl_, y0_, x0_, res)
                else:
                    u = (raw[bk] + 32) >> 6
                    add_clip(pl_, y0_, x0_, [[u] * 4] * 4)

    for mb in range(n_mbs):
        mbx, mby = mb % mbs_w, mb // mbs_w
        cur = slice_of_mb(mb)
        km = mb + 32 * f
        if kinds[mb] == 0:
            done4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
            sl4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = cur
            continue
        y0, x0 = mby * 16, mbx * 16
        top_ok = mby > 0 and slice_of_mb(mb - mbs_w) == cur
        left_ok = mbx > 0 and slice_of_mb(mb - 1) == cur
        if kinds[mb] == 1:
            pm16 = _n12_i16_mode(i, f, mbx, mby)
            cm = _n12_cmode(i, f, mbx, mby)
            cc = _n12_cc(i, f, mbx, mby)
            top = (
                [int(y[y0 - 1, x0 + x]) for x in range(16)]
                if top_ok
                else None
            )
            left = (
                [int(y[y0 + yy, x0 - 1]) for yy in range(16)]
                if left_ok
                else None
            )
            for yy in range(16):
                for x in range(16):
                    if pm16 == 0:
                        v = top[x]
                    elif pm16 == 1:
                        v = left[yy]
                    elif pm16 == 2:
                        if top_ok and left_ok:
                            v = (sum(top) + sum(left) + 16) >> 5
                        elif left_ok:
                            v = (sum(left) + 8) >> 4
                        elif top_ok:
                            v = (sum(top) + 8) >> 4
                        else:
                            v = 128
                    else:
                        corner = int(y[y0 - 1, x0 - 1])
                        et = [corner] + top
                        el = [corner] + left
                        hs = sum(
                            (xp + 1) * (et[9 + xp] - et[7 - xp])
                            for xp in range(8)
                        )
                        vs = sum(
                            (yp + 1) * (el[9 + yp] - el[7 - yp])
                            for yp in range(8)
                        )
                        a = 16 * (et[16] + el[16])
                        b = (5 * hs + 32) >> 6
                        c_ = (5 * vs + 32) >> 6
                        v = _x_clip1(
                            (a + b * (x - 7) + c_ * (yy - 7) + 16) >> 5
                        )
                    y[y0 + yy, x0 + x] = v
            dcm = _x_luma_dcmat(_n10_dc(i, km), qp)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                res = _x_itrans4(
                    _x_dequant4(
                        _n10_ac15(i, km, blk, 0), qp, dc=dcm[bi][bj]
                    )
                )
                add_clip(y, y0 + 4 * bi, x0 + 4 * bj, res)
            chroma_recon(mb, mbx, mby, km, cm, cc, top_ok, left_ok)
            done4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
            sl4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = cur
        else:  # I_4x4
            cbp_luma = _n12_i4_cbp(i, f, mbx, mby)
            cm = _n12_cmode(i, f, mbx, mby)
            cc = _n12_cc(i, f, mbx, mby)
            for blk in range(16):
                bi, bj = _BLK4_POS[blk]
                r4, c4 = 4 * mby + bi, 4 * mbx + bj
                a_l = avail4(r4, c4 - 1, cur)
                a_t = avail4(r4 - 1, c4, cur)
                a_tl = avail4(r4 - 1, c4 - 1, cur)
                a_tr = avail4(r4 - 1, c4 + 1, cur)
                md = _n12_i4_mode(i, km, blk, not a_t)
                pred = _x_pred4(y, r4, c4, md, a_l, a_t, a_tl, a_tr)
                if cbp_luma & (1 << (blk // 4)):
                    res = _x_itrans4(
                        _x_dequant4(_n10_lv16(i, km, blk), qp)
                    )
                    for yy in range(4):
                        for xx in range(4):
                            pred[yy][xx] = _x_clip1(
                                pred[yy][xx] + res[yy][xx]
                            )
                for yy in range(4):
                    for xx in range(4):
                        y[4 * r4 + yy, 4 * c4 + xx] = _x_clip1(
                            pred[yy][xx]
                        )
                done4[r4, c4] = True
                sl4[r4, c4] = cur
            chroma_recon(mb, mbx, mby, km, cm, cc, top_ok, left_ok)
    return y, cb, cr, kinds


def _ladder_nals(
    i: int,
) -> tuple[bytes, list[bytes], list[list[bytes]]]:
    """Raw NAL units (header byte + EBSP payload, NO start codes) of
    the ladder composition for clip ``i``: (sps_nal, [pps0, pps1],
    [[slice NALs of picture f], ...]) — so the Annex-B stream and the
    AVCC/MP4 sample builder share one encoder."""
    mbs_w, mbs_h, n_f = _n12_geom(i)
    qp0 = _n10_qp(i)

    sps = _BitWriter()
    sps.u(66, 8); sps.u(0, 8); sps.u(10, 8)
    sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0); sps.ue(0)
    sps.u(0, 1)
    sps.ue(mbs_w - 1); sps.ue(mbs_h - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    sps.rbsp_trailing()
    sps_nal = bytes([(3 << 5) | 7]) + _escape_ebsp(sps.tobytes())
    pps_nals = [_pps_nal(0, qp0), _pps_nal(1, qp0 + 4)]
    pictures: list[list[bytes]] = []

    for f in range(n_f):
        pictures.append([])
        y, cb, cr, kinds = _n12_frame(i, f)
        pps_id = f % 2
        tc4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        ctc4 = np.full((2, 2 * mbs_h, 2 * mbs_w), -1, np.int32)
        mode4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)
        sl4 = np.full((4 * mbs_h, 4 * mbs_w), -1, np.int32)

        for s_idx, (mb0, mb1) in enumerate(
            ((0, 2 * mbs_w), (2 * mbs_w, 3 * mbs_w))
        ):
            sl = _BitWriter()
            sl.ue(mb0)  # first_mb_in_slice
            sl.ue(7)  # slice_type I
            sl.ue(pps_id)
            sl.u(0, 4)  # frame_num
            sl.ue(f % 32)  # idr_pic_id
            sl.u(0, 4)  # pic_order_cnt_lsb
            sl.u(0, 1); sl.u(0, 1)  # dec_ref_pic_marking
            sl.se(0)  # slice_qp_delta
            sl.ue(1)  # disable_deblocking_filter_idc

            def gated(arr, rr: int, cc_: int) -> int:
                if (
                    rr < 0 or cc_ < 0
                    or rr >= arr.shape[-2] or cc_ >= arr.shape[-1]
                ):
                    return -1
                # chroma arrays index at half resolution of sl4
                scale = sl4.shape[0] // arr.shape[-2]
                if sl4[rr * scale, cc_ * scale] != s_idx:
                    return -1
                return int(arr[rr, cc_])

            def ncof(arr, rr: int, cc_: int) -> int:
                na, nb = gated(arr, rr, cc_ - 1), gated(arr, rr - 1, cc_)
                if na >= 0 and nb >= 0:
                    return (na + nb + 1) >> 1
                if na >= 0:
                    return na
                if nb >= 0:
                    return nb
                return 0

            def write_chroma(
                mb: int, mbx: int, mby: int, km: int, cc: int
            ) -> None:
                if cc == 0:
                    ctc4[
                        :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                    ] = 0
                    return
                _write_chroma_dc_block(sl, _n10_cdc(i, km, 0))
                _write_chroma_dc_block(sl, _n10_cdc(i, km, 1))
                for p_ in range(2):
                    for bk in range(4):
                        rr = 2 * mby + bk // 2
                        cc_ = 2 * mbx + bk % 2
                        if cc == 2:
                            n_c = ncof(ctc4[p_], rr, cc_)
                            ctc4[p_, rr, cc_] = _write_residual_4x4(
                                sl, _n10_ac15(i, km, bk, 1 + p_), n_c, 15
                            )
                        else:
                            ctc4[p_, rr, cc_] = 0

            for mb in range(mb0, mb1):
                mbx, mby = mb % mbs_w, mb // mbs_w
                km = mb + 32 * f
                # claim the MB's cells for this slice up front: the
                # gated lookups treat current-MB cells as same-slice
                # (the decoder's ``omb == mb`` rule); values stay -1
                # until actually written
                sl4[
                    4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                ] = s_idx
                if kinds[mb] == 0:
                    sl.ue(25)
                    sl.align_zero()
                    sl.raw_bytes(
                        y[
                            mby * 16 : mby * 16 + 16,
                            mbx * 16 : mbx * 16 + 16,
                        ].astype(np.uint8).tobytes()
                    )
                    sl.raw_bytes(
                        cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                        .astype(np.uint8).tobytes()
                    )
                    sl.raw_bytes(
                        cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8]
                        .astype(np.uint8).tobytes()
                    )
                    tc4[
                        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
                    ] = 16
                    ctc4[
                        :, 2 * mby : 2 * mby + 2, 2 * mbx : 2 * mbx + 2
                    ] = 16
                elif kinds[mb] == 1:
                    pm16 = _n12_i16_mode(i, f, mbx, mby)
                    cm = _n12_cmode(i, f, mbx, mby)
                    cc = _n12_cc(i, f, mbx, mby)
                    sl.ue(1 + pm16 + 4 * cc + 12)
                    sl.ue(cm)
                    sl.se(0)  # mb_qp_delta
                    n_c = ncof(tc4, 4 * mby, 4 * mbx)
                    _write_residual_4x4(sl, _n10_dc(i, km), n_c, 16)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        n_c = ncof(tc4, r4, c4)
                        tc4[r4, c4] = _write_residual_4x4(
                            sl, _n10_ac15(i, km, blk, 0), n_c, 15
                        )
                    write_chroma(mb, mbx, mby, km, cc)
                else:  # I_4x4
                    cbp_luma = _n12_i4_cbp(i, f, mbx, mby)
                    cm = _n12_cmode(i, f, mbx, mby)
                    cc = _n12_cc(i, f, mbx, mby)
                    sl.ue(0)

                    def avail_cell(r4_: int, c4_: int) -> bool:
                        """Same-slice decoded-cell availability: a
                        residual-carrying cell (tc4 >= 0) or an
                        already-moded I_4x4 cell of the current MB."""
                        if gated(tc4, r4_, c4_) >= 0:
                            return True
                        return (
                            0 <= r4_ < 4 * mbs_h
                            and 0 <= c4_ < 4 * mbs_w
                            and sl4[r4_, c4_] == s_idx
                            and mode4[r4_, c4_] >= 0
                        )

                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        a_a = c4 > 0 and avail_cell(r4, c4 - 1)
                        a_b = r4 > 0 and avail_cell(r4 - 1, c4)
                        if not (a_a and a_b):
                            pred = 2
                        else:
                            ma = (
                                int(mode4[r4, c4 - 1])
                                if sl4[r4, c4 - 1] == s_idx
                                else -1
                            )
                            mb_ = (
                                int(mode4[r4 - 1, c4])
                                if sl4[r4 - 1, c4] == s_idx
                                else -1
                            )
                            pred = min(
                                ma if ma >= 0 else 2,
                                mb_ if mb_ >= 0 else 2,
                            )
                        md = _n12_i4_mode(i, km, blk, not a_b)
                        if md == pred:
                            sl.u(1, 1)
                        else:
                            sl.u(0, 1)
                            sl.u(md - (1 if md > pred else 0), 3)
                        mode4[r4, c4] = md
                    sl.ue(cm)
                    sl.ue(_CBP_INTRA_INV[cbp_luma + 16 * cc])
                    if cbp_luma + 16 * cc:
                        sl.se(0)
                    for blk in range(16):
                        bi, bj = _BLK4_POS[blk]
                        r4, c4 = 4 * mby + bi, 4 * mbx + bj
                        if cbp_luma & (1 << (blk // 4)):
                            n_c = ncof(tc4, r4, c4)
                            tc4[r4, c4] = _write_residual_4x4(
                                sl, _n10_lv16(i, km, blk), n_c, 16
                            )
                        else:
                            tc4[r4, c4] = 0
                    write_chroma(mb, mbx, mby, km, cc)
            sl.rbsp_trailing()
            pictures[f].append(
                bytes([(3 << 5) | 5]) + _escape_ebsp(sl.tobytes())
            )
    return sps_nal, pps_nals, pictures


def encode_ladder_annexb(i: int) -> bytes:
    """Annex-B composition stream for ladder clip ``i``: one SPS, TWO
    PPSs (init_qp and init_qp + 4), 2-3 IDR pictures each split into
    two slices (rows 0-1 / row 2), macroblocks mixing I_PCM,
    I_16x16-with-AC, and I_4x4 — with every CAVLC nC lookup,
    most-probable-mode inference, and prediction edge gated to the
    emitting slice (mirroring the decoder's spec-8.3/9.2.1
    availability)."""
    sps_nal, pps_nals, pictures = _ladder_nals(i)
    out = b"".join(
        b"\x00\x00\x00\x01" + n for n in [sps_nal] + pps_nals
    )
    for nals in pictures:
        out += b"".join(b"\x00\x00\x00\x01" + n for n in nals)
    return out


def synthetic_h264_ladder_media(
    spark: SparkSession, n: int = _N12_CLIPS
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(encode_ladder_annexb(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_ladder_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (notch 12): the REGENERATED composition corpus —
    multi-picture GOPs referencing two PPSs at different QPs, every
    picture split into two slices, macroblocks mixing I_PCM,
    I_16x16-with-full-AC, and I_4x4, with row-2 predicted MBs
    decoding against a slice boundary (top edge gated away: CAVLC nC
    from the left only, left-constrained prediction modes, chroma DC
    fallbacks). Proves notches 1-11 compose in one bitstream.
    Per-frame exact statistics (incl. the PARSED slice count) under
    the cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        h264_gop_stats(synthetic_h264_ladder_media(spark)),
        "media_id",
        "frame_idx",
    )


def _sql_h264_ladder(slice_col: str = "n_slices") -> str:
    """DuckDB oracle for the ladder corpus: PCM sums/checksum terms
    from the closed-form (clip, frame, mb, offset) sample formulas in
    pure SQL; predicted-MB samples from the embedded explicit-twin
    arrays with position mapping, per-frame checksum weights, and
    aggregation in SQL; n_slices pinned to the stream's real
    two-slice structure."""
    pm_l, pf_l, py_l, pcb_l, pcr_l = [], [], [], [], []
    for i in range(_N12_CLIPS):
        mbs_w, mbs_h, n_f = _n12_geom(i)
        pm, pf, py, pcb, pcr = [], [], [], [], []
        for f in range(n_f):
            y, cb, cr, kinds = _n12_frame(i, f)
            for mb, k in enumerate(kinds):
                if k == 0:
                    continue
                mbx, mby = mb % mbs_w, mb // mbs_w
                pm.append(mb)
                pf.append(f)
                py.extend(
                    int(v)
                    for v in y[
                        mby * 16 : mby * 16 + 16,
                        mbx * 16 : mbx * 16 + 16,
                    ].reshape(-1)
                )
                pcb.extend(
                    int(v)
                    for v in cb[
                        mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                    ].reshape(-1)
                )
                pcr.extend(
                    int(v)
                    for v in cr[
                        mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                    ].reshape(-1)
                )
        pm_l.append(pm)
        pf_l.append(pf)
        py_l.append(py)
        pcb_l.append(pcb)
        pcr_l.append(pcr)
    y_v = (
        "(7 * media_id + 31 * f + 13 * ((mb * 256 + o.o) // 4)) % 256"
    )
    cb_v = "(11 * media_id + 29 * f + 17 * (mb * 64 + o.o)) % 256"
    cr_v = "(19 * media_id + 37 * f + 23 * (mb * 64 + o.o)) % 256"
    return f"""
WITH clip AS (
  SELECT i AS media_id, 2 + i % 2 AS mbs_w, 3 AS mbs_h,
         2 + i % 2 AS n_f,
         pm.v AS pm, pf.v AS pf, py.v AS py,
         pcb.v AS pcb, pcr.v AS pcr
  FROM range({_N12_CLIPS}) t(i)
  JOIN (SELECT UNNEST(range({_N12_CLIPS})) AS j,
               UNNEST({pm_l!r}) AS v) pm ON pm.j = i
  JOIN (SELECT UNNEST(range({_N12_CLIPS})) AS j,
               UNNEST({pf_l!r}) AS v) pf ON pf.j = i
  JOIN (SELECT UNNEST(range({_N12_CLIPS})) AS j,
               UNNEST({py_l!r}) AS v) py ON py.j = i
  JOIN (SELECT UNNEST(range({_N12_CLIPS})) AS j,
               UNNEST({pcb_l!r}) AS v) pcb ON pcb.j = i
  JOIN (SELECT UNNEST(range({_N12_CLIPS})) AS j,
               UNNEST({pcr_l!r}) AS v) pcr ON pcr.j = i
),
frames AS (
  SELECT media_id, mbs_w, mbs_h, pm, pf, py, pcb, pcr, ff.f AS f
  FROM clip, LATERAL (SELECT UNNEST(range(n_f)) AS f) ff
),
mbs AS (
  SELECT media_id, mbs_w, mbs_h, f, m.m AS mb,
         m.m % mbs_w AS mbx, m.m // mbs_w AS mby
  FROM frames, LATERAL (SELECT UNNEST(range(mbs_w * mbs_h)) AS m) m
),
luma_pcm AS (
  SELECT media_id, f, SUM({y_v}) AS s,
         SUM((mb * 256 + o.o + 1) * ({y_v})) AS ck
  FROM mbs, LATERAL (SELECT UNNEST(range(256)) AS o) o
  WHERE mbx = 0 OR mby = 0
  GROUP BY media_id, f
),
luma_pred AS (
  SELECT media_id, pf[k.k // 256 + 1] AS f, SUM(py[k.k + 1]) AS s,
         SUM((pm[k.k // 256 + 1] * 256 + k.k % 256 + 1)
             * py[k.k + 1]) AS ck
  FROM clip, LATERAL (SELECT UNNEST(range(len(py))) AS k) k
  GROUP BY media_id, pf[k.k // 256 + 1]
),
chroma_pcm AS (
  SELECT media_id, f, SUM({cb_v}) AS scb, SUM({cr_v}) AS scr
  FROM mbs, LATERAL (SELECT UNNEST(range(64)) AS o) o
  WHERE mbx = 0 OR mby = 0
  GROUP BY media_id, f
),
chroma_pred AS (
  SELECT media_id, pf[k.k // 64 + 1] AS f,
         SUM(pcb[k.k + 1]) AS scb, SUM(pcr[k.k + 1]) AS scr
  FROM clip, LATERAL (SELECT UNNEST(range(len(pcb))) AS k) k
  GROUP BY media_id, pf[k.k // 64 + 1]
)
SELECT c.media_id,
       CAST(lp.f AS INT) AS frame_idx,
       CAST(2 AS INT) AS {slice_col},
       CAST(16 * c.mbs_w AS INT) AS width,
       CAST(16 * c.mbs_h AS INT) AS height,
       CAST(c.mbs_w * c.mbs_h AS BIGINT) AS n_mbs,
       CAST(lp.s + lr.s AS BIGINT) AS sum_y,
       CAST(cp.scb + cr2.scb AS BIGINT) AS sum_cb,
       CAST(cp.scr + cr2.scr AS BIGINT) AS sum_cr,
       CAST((lp.ck + lr.ck) % {_CK_MOD} AS BIGINT) AS ck_y
FROM clip c
JOIN luma_pcm lp ON lp.media_id = c.media_id
JOIN luma_pred lr ON lr.media_id = c.media_id AND lr.f = lp.f
JOIN chroma_pcm cp ON cp.media_id = c.media_id AND cp.f = lp.f
JOIN chroma_pred cr2 ON cr2.media_id = c.media_id AND cr2.f = lp.f
ORDER BY c.media_id, frame_idx
"""


# SQL_H264_LADDER_DECODE / SQL_H264_MP4_AC_DECODE (the AVC-in-MP4
# twin: the same oracle under the mp4 schema's n_nals column) also
# resolve lazily via the module __getattr__ below.


_LAZY_SQL = {
    "SQL_H264_AC_DECODE": lambda: _sql_h264_ac(False),
    "SQL_H264_I4X4_DECODE": lambda: _sql_h264_ac(True),
    "SQL_H264_LADDER_DECODE": lambda: _sql_h264_ladder(),
    "SQL_H264_MP4_AC_DECODE": lambda: _sql_h264_ladder(
        slice_col="n_nals"
    ),
}


def __getattr__(name: str) -> str:
    # PEP 562 lazy module attributes: oracle SQL strings are built on
    # first access and cached, so decode-stage imports stay cheap
    if name in _LAZY_SQL:
        value = _LAZY_SQL[name]()
        globals()[name] = value
        return value
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "h264_ipcm_decode": (q_h264_ipcm_decode, SQL_H264_IPCM_DECODE),
    "h264_intra_decode": (q_h264_intra_decode, SQL_H264_INTRA_DECODE),
    "h264_cavlc_decode": (q_h264_cavlc_decode, SQL_H264_CAVLC_DECODE),
    "h264_lumadc_decode": (q_h264_lumadc_decode, SQL_H264_LUMADC_DECODE),
    "h264_plane_decode": (q_h264_plane_decode, SQL_H264_PLANE_DECODE),
    "h264_gop_decode": (q_h264_gop_decode, SQL_H264_GOP_DECODE),
    "h264_full_decode": (q_h264_full_decode, SQL_H264_FULL_DECODE),
    "h264_multiqp_decode": (q_h264_multiqp_decode, SQL_H264_MULTIQP_DECODE),
    "h264_qptrack_decode": (q_h264_qptrack_decode, SQL_H264_QPTRACK_DECODE),
    "video_fingerprint": (q_video_fingerprint, SQL_VIDEO_FINGERPRINT),
    "h264_ac_decode": (q_h264_ac_decode, _LAZY_SQL["SQL_H264_AC_DECODE"]),
    "h264_i4x4_decode": (
        q_h264_i4x4_decode,
        _LAZY_SQL["SQL_H264_I4X4_DECODE"],
    ),
    "h264_ladder_decode": (
        q_h264_ladder_decode,
        _LAZY_SQL["SQL_H264_LADDER_DECODE"],
    ),
}
