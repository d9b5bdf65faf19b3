"""H.264 codec for the CAVLC subset (ITU-T H.264, public spec): intra
pictures, P slices and B slices, encoder and decoder.

What decodes (and what the encoder codes, closed loop):

- I, P and low-delay B slices: every intra mode, all P and B
  partitions and sub-partitions, spatial AND temporal direct
  (§8.4.1.2.2 colZeroFlag, §8.4.1.2.3 POC-scaled and long-term
  unscaled colocated motion), quarter-pel MC, §8.7 deblocking.
- Multiple references, up to the spec's 16-frame DPB
  (§7.3.5 ref_idx te(v), §8.4.1.3 refIdx-matching MV prediction,
  §8.7.2.1 same-reference-picture deblock rule); a slice asking for
  more than 16 active references quarantines.
- Reference-list modification (§8.2.4.3, picNum and
  long_term_pic_num, both lists), adaptive marking (§8.2.5.4 MMCO
  1-6, the full long-term lifecycle and the MMCO 5 reset), POC types
  0, 1 and 2 (§8.2.1).
- Explicit weighted prediction for P and B (§8.4.2.3) and implicit
  bi-prediction weights (weighted_bipred_idc 2, §8.4.2.3.1).
- Multi-slice pictures (first_mb_in_slice walking, slice-bounded
  neighbour availability).

``GOPS`` names every chain shape the encoder codes; ``encode_gop``
codes one, and the avcC (mp4/mkv) and Annex-B writers go through it.
The closed loop (decoder output ≡ encoder reconstruction, byte for
byte) is gated for every GOPS chain through mp4, mkv and Annex-B by
the ``video_decode_matrix`` lane and
tests/test_h264_temporal.py::test_new_gops_through_containers; what
each chain's tools must engage (motion, references, weights,
marking, slices) is pinned by the tests/test_h264_*.py suites.

Still OUTSIDE the subset and quarantined (MediaFormatError, never a
wrong frame): field/MBAFF coding, display-reordered B pictures,
non-4:2:0 or >8-bit sampling, scaling matrices, and CABAC entropy
coding — CABAC streams are probe-only (the probe reads their dims
and profile); decode quarantines.

Building blocks:

- Intra: I_4x4 (all nine §8.3.1.2 predictors, most-probable-mode
  signalling), I_16x16 (all four §8.3.3 modes incl. Plane), I_PCM
  (§8.3.5, the encoder's worst-case-size escape); all four §8.3.4
  chroma modes; 4:2:0 8-bit, frame_mbs_only.
- Inter: quarter-pel luma (§8.4.2.2.1 6-tap + Table 8-12 averaging)
  and eighth-pel bilinear chroma (§8.4.2.2.2) with edge clamping;
  median/directional MV prediction (§8.4.1.3) and P_Skip inference
  (§8.4.1.1); mb_skip_run syntax; the Table 9-4 inter CBP column.
- §8.7 deblocking with the §8.7.2.1 per-edge boundary strengths;
  references are the FILTERED pictures, mirrored exactly by encoder
  and decoder.
- §8.5 dequantization and inverse transforms (LevelScale tables, the
  low-QP rounding branches, luma-DC Hadamard, chroma-DC 2x2,
  (x+32)>>6 reconstruction); PPS chroma_qp_index_offset via
  Table 8-15.
The CAVLC code tables (Tables 9-5, 9-7..9-10) are transcribed from
the published spec.  Encoder and decoder share one table instance, so
every encode→decode property test proves internal consistency of the
whole entropy layer; transcription fidelity is additionally pinned by
spot asserts on well-known codewords in tests/test_h264.py.

Reference parity note: the reference reindex job has no media layer —
this module belongs to the repo's LLM-training-data extensions
(media curation at 100 TB: probe first, decode keyframes only).
"""

from __future__ import annotations

import struct

import numpy as np

from reindexer_spark.codecs import (
    _H264_HIGH_PROFILES,
    MediaFormatError,
    _escape_rbsp,
    _RbspReader,
    _RbspWriter,
    _unescape_rbsp,
    parse_h264_sps,
    write_h264_sps,
)

# ---------------------------------------------------------------------------
# §8.5 transforms and scaling
# ---------------------------------------------------------------------------

# normAdjust4x4 (the "V" dequant table), rows = qP % 6, columns =
# position classes: 0 for (0,0),(0,2),(2,0),(2,2); 1 for odd-odd
# positions; 2 for the rest (§8.5.9).
_V = (
    (10, 16, 13),
    (11, 18, 14),
    (13, 20, 16),
    (14, 23, 18),
    (16, 25, 20),
    (18, 29, 23),
)
# forward multiplication factors (encoder side, same class layout)
_MF = (
    (13107, 5243, 8066),
    (11916, 4660, 7490),
    (10082, 4194, 6554),
    (9362, 3647, 5825),
    (8192, 3355, 5243),
    (7282, 2893, 4559),
)

_POS_CLASS = tuple(
    tuple(
        0 if (i % 2 == 0 and j % 2 == 0) else (1 if (i % 2 and j % 2) else 2)
        for j in range(4)
    )
    for i in range(4)
)

# zig-zag scan for 4x4 blocks (§8.5.6): scan index -> raster index
ZIGZAG4 = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# qPc from qPi (§8.4.4.1 Table 8-15; identity below 30)
_QPC = tuple(range(30)) + (29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36,
                           37, 37, 37, 38, 38, 38, 39, 39, 39, 39)


def _level_scale(m: int, i: int, j: int) -> int:
    # flat weightScale (16) * normAdjust — Flat_4x4_16 scaling lists
    return 16 * _V[m][_POS_CLASS[i][j]]


def _idct4_1d(d0: int, d1: int, d2: int, d3: int) -> tuple[int, int, int, int]:
    e0 = d0 + d2
    e1 = d0 - d2
    e2 = (d1 >> 1) - d3
    e3 = d1 + (d3 >> 1)
    return e0 + e3, e1 + e2, e1 - e2, e0 - e3


def idct4x4(d: np.ndarray) -> np.ndarray:
    """Rows-then-columns §8.5.12.2 butterflies, then (x+32)>>6."""
    tmp = np.empty((4, 4), dtype=np.int64)
    for i in range(4):
        tmp[i] = _idct4_1d(*(int(x) for x in d[i]))
    out = np.empty((4, 4), dtype=np.int64)
    for j in range(4):
        out[:, j] = _idct4_1d(*(int(x) for x in tmp[:, j]))
    return (out + 32) >> 6


def dequant_ac(z: np.ndarray, qp: int, skip_dc: bool = False) -> np.ndarray:
    """§8.5.12.1 scaling of a 4x4 residual coefficient block (raster
    layout).  ``skip_dc`` leaves position (0,0) untouched (Intra16x16 /
    chroma blocks carry their DC separately)."""
    d = np.empty((4, 4), dtype=np.int64)
    m, q6 = qp % 6, qp // 6
    for i in range(4):
        for j in range(4):
            if skip_dc and i == 0 and j == 0:
                d[0, 0] = z[0, 0]
                continue
            c = int(z[i, j])
            ls = _level_scale(m, i, j)
            if qp >= 24:
                d[i, j] = (c * ls) << (q6 - 4)
            else:
                d[i, j] = (c * ls + (1 << (3 - q6))) >> (4 - q6)
    return d


def hadamard4x4(x: np.ndarray) -> np.ndarray:
    """Unscaled 4x4 Hadamard (its own inverse up to scale), int64."""
    h = np.array(
        [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
        dtype=np.int64,
    )
    return h @ x.astype(np.int64) @ h


def dequant_luma_dc(z: np.ndarray, qp: int) -> np.ndarray:
    """§8.5.10: inverse 4x4 Hadamard of the Intra16x16 luma DC block,
    then DC-specific scaling.  Output: fully-scaled DC values, one per
    4x4 block (raster over the MB)."""
    f = hadamard4x4(z)
    m, q6 = qp % 6, qp // 6
    ls = _level_scale(m, 0, 0)
    if qp >= 36:
        return (f * ls) << (q6 - 6)
    return (f * ls + (1 << (5 - q6))) >> (6 - q6)


def dequant_chroma_dc(z: np.ndarray, qpc: int) -> np.ndarray:
    """§8.5.11: 2x2 chroma DC transform + scaling (4:2:0)."""
    h = np.array([[1, 1], [1, -1]], dtype=np.int64)
    f = h @ z.astype(np.int64) @ h
    m, q6 = qpc % 6, qpc // 6
    ls = _level_scale(m, 0, 0)
    return ((f * ls) << q6) >> 5


# encoder-side forward pieces (non-normative, but closed-loop: the
# encoder reconstructs through the SAME dequant/idct path the decoder
# uses, so prediction stays bit-synchronized)

def fdct4x4(x: np.ndarray) -> np.ndarray:
    cf = np.array(
        [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
        dtype=np.int64,
    )
    return cf @ x.astype(np.int64) @ cf.T


def quant_ac(w: np.ndarray, qp: int, intra: bool = True,
             skip_dc: bool = False) -> np.ndarray:
    z = np.empty((4, 4), dtype=np.int64)
    m, qbits = qp % 6, 15 + qp // 6
    f = (1 << qbits) // (3 if intra else 6)
    for i in range(4):
        for j in range(4):
            if skip_dc and i == 0 and j == 0:
                z[0, 0] = 0
                continue
            w_ij = int(w[i, j])
            mf = _MF[m][_POS_CLASS[i][j]]
            v = (abs(w_ij) * mf + f) >> qbits
            z[i, j] = -v if w_ij < 0 else v
    return z


def quant_dc(w: np.ndarray, qp: int, mf_pos: int = 0) -> np.ndarray:
    """DC quant (luma 4x4 Hadamard output or chroma 2x2): double
    rounding headroom, one extra shift (Richardson §7; encoder
    choice)."""
    m, qbits = qp % 6, 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _MF[m][mf_pos]
    av = (np.abs(w) * mf + 2 * f) >> (qbits + 1)
    return np.where(w < 0, -av, av).astype(np.int64)


# ---------------------------------------------------------------------------
# §9.2 CAVLC — code tables
#
# Transcribed from the published Table 9-5 (coeff_token), Tables
# 9-7/9-8 (total_zeros, 4x4), Table 9-9(a) (total_zeros, 2x2 chroma
# DC) and Table 9-10 (run_before).  Codes are stored as ("bits"
# strings) so prefix structure is auditable; encoder and decoder share
# these instances.
# ---------------------------------------------------------------------------

# coeff_token — {(trailing_ones, total_coeff): bitstring}, per nC band.
_CT_NC0 = {  # 0 <= nC < 2
    (0, 0): "1",
    (0, 1): "000101", (1, 1): "01",
    (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
    (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101", (3, 3): "00011",
    (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101", (3, 4): "000011",
    (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101", (3, 5): "0000100",
    (0, 6): "0000000001111", (1, 6): "00000000110", (2, 6): "0000000101", (3, 6): "00000100",
    (0, 7): "0000000001011", (1, 7): "0000000001110", (2, 7): "00000000101", (3, 7): "000000100",
    (0, 8): "0000000001000", (1, 8): "0000000001010", (2, 8): "0000000001101", (3, 8): "0000000100",
    (0, 9): "00000000001111", (1, 9): "00000000001110", (2, 9): "0000000001001", (3, 9): "00000000100",
    (0, 10): "00000000001011", (1, 10): "00000000001010", (2, 10): "00000000001101", (3, 10): "0000000001100",
    (0, 11): "000000000001111", (1, 11): "000000000001110", (2, 11): "00000000001001", (3, 11): "00000000001100",
    (0, 12): "000000000001011", (1, 12): "000000000001010", (2, 12): "000000000001101", (3, 12): "00000000001000",
    (0, 13): "0000000000001111", (1, 13): "000000000000001", (2, 13): "000000000001001", (3, 13): "000000000001100",
    (0, 14): "0000000000001011", (1, 14): "0000000000001110", (2, 14): "0000000000001101", (3, 14): "000000000001000",
    (0, 15): "0000000000000111", (1, 15): "0000000000001010", (2, 15): "0000000000001001", (3, 15): "0000000000001100",
    (0, 16): "0000000000000100", (1, 16): "0000000000000110", (2, 16): "0000000000000101", (3, 16): "0000000000001000",
}
_CT_NC2 = {  # 2 <= nC < 4
    (0, 0): "11",
    (0, 1): "001011", (1, 1): "10",
    (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
    (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001", (3, 3): "0101",
    (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101", (3, 4): "0100",
    (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101", (3, 5): "00110",
    (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101", (3, 6): "001000",
    (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101", (3, 7): "000100",
    (0, 8): "00000001011", (1, 8): "00000001110", (2, 8): "00000001101", (3, 8): "0000100",
    (0, 9): "000000001111", (1, 9): "00000001010", (2, 9): "00000001001", (3, 9): "000000100",
    (0, 10): "000000001011", (1, 10): "000000001110", (2, 10): "000000001101", (3, 10): "00000001100",
    (0, 11): "000000001000", (1, 11): "000000001010", (2, 11): "000000001001", (3, 11): "00000001000",
    (0, 12): "0000000001111", (1, 12): "0000000001110", (2, 12): "0000000001101", (3, 12): "000000001100",
    (0, 13): "0000000001011", (1, 13): "0000000001010", (2, 13): "0000000001001", (3, 13): "0000000001100",
    (0, 14): "0000000000111", (1, 14): "00000000001011", (2, 14): "0000000000110", (3, 14): "0000000001000",
    (0, 15): "00000000001001", (1, 15): "00000000001000", (2, 15): "00000000001010", (3, 15): "0000000000001",
    (0, 16): "00000000000111", (1, 16): "00000000000110", (2, 16): "00000000000101", (3, 16): "00000000000100",
}
_CT_NC4 = {  # 4 <= nC < 8
    (0, 0): "1111",
    (0, 1): "001111", (1, 1): "1110",
    (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
    (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
    (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
    (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
    (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101", (3, 6): "1001",
    (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
    (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101", (3, 8): "01101",
    (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010", (3, 9): "001100",
    (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101", (3, 10): "0001100",
    (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001", (3, 11): "00001100",
    (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101", (3, 12): "00001000",
    (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001", (3, 13): "000001100",
    (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011", (3, 14): "0000001010",
    (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111", (3, 15): "0000000110",
    (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011", (3, 16): "0000000010",
}
# nC >= 8: 6-bit FLC — coeff_token = (total_coeff-1)<<2 | trailing_ones,
# except (0,0) coded as 000011 (§9.2.1).
_CT_CHROMA_DC = {  # nC == -1 (4:2:0 chroma DC, 4 coeffs max)
    (0, 0): "01",
    (0, 1): "000111", (1, 1): "1",
    (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
    (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010", (3, 3): "000101",
    (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010", (3, 4): "0000000",
}

# total_zeros for 4x4 blocks — Tables 9-7 and 9-8, indexed
# [total_coeff][total_zeros] -> bitstring.
_TZ4 = {
    1: ("1", "011", "010", "0011", "0010", "00011", "00010", "000011",
        "000010", "0000011", "0000010", "00000011", "00000010",
        "000000011", "000000010", "000000001"),
    2: ("111", "110", "101", "100", "011", "0101", "0100", "0011", "0010",
        "00011", "00010", "000011", "000010", "000001", "000000"),
    3: ("0101", "111", "110", "101", "0100", "0011", "100", "011", "0010",
        "00011", "00010", "000001", "00001", "000000"),
    4: ("00011", "111", "0101", "0100", "110", "101", "100", "0011", "011",
        "0010", "00010", "00001", "00000"),
    5: ("0101", "0100", "0011", "111", "110", "101", "100", "011", "0010",
        "00001", "0001", "00000"),
    6: ("000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"),
    7: ("000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"),
    8: ("000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"),
    9: ("000001", "000000", "0001", "11", "10", "001", "01", "00001"),
    10: ("00001", "00000", "001", "11", "10", "01", "0001"),
    11: ("0000", "0001", "001", "010", "1", "011"),
    12: ("0000", "0001", "01", "1", "001"),
    13: ("000", "001", "1", "01"),
    14: ("00", "01", "1"),
    15: ("0", "1"),
}
# total_zeros for 2x2 chroma DC — Table 9-9(a)
_TZ_CDC = {
    1: ("1", "01", "001", "000"),
    2: ("1", "01", "00"),
    3: ("1", "0"),
}

# run_before — Table 9-10, indexed [min(zeros_left,7)][run] -> bits
_RUN_BEFORE = {
    1: ("1", "0"),
    2: ("1", "01", "00"),
    3: ("11", "10", "01", "00"),
    4: ("11", "10", "01", "001", "000"),
    5: ("11", "10", "011", "010", "001", "000"),
    6: ("11", "000", "001", "011", "010", "101", "100"),
    7: ("111", "110", "101", "100", "011", "010", "001", "0001", "00001",
        "000001", "0000001", "00000001", "000000001", "0000000001",
        "00000000001"),
}


def _invert(table: dict) -> dict:
    return {bits: key for key, bits in table.items()}


_CT_DEC = {
    0: _invert(_CT_NC0),
    2: _invert(_CT_NC2),
    4: _invert(_CT_NC4),
    -1: _invert(_CT_CHROMA_DC),
}
_TZ4_DEC = {tc: _invert(dict(enumerate(codes))) for tc, codes in _TZ4.items()}
_TZ_CDC_DEC = {
    tc: _invert(dict(enumerate(codes))) for tc, codes in _TZ_CDC.items()
}
_RUN_DEC = {
    zl: _invert(dict(enumerate(codes))) for zl, codes in _RUN_BEFORE.items()
}


def _ct_band(nc: int) -> int:
    if nc == -1:
        return -1
    if nc < 2:
        return 0
    if nc < 4:
        return 2
    if nc < 8:
        return 4
    return 8


# ---------------------------------------------------------------------------
# bit I/O for slice payloads
# ---------------------------------------------------------------------------


class _BitWriter(_RbspWriter):
    """_RbspWriter plus raw bitstring append (VLC table entries)."""

    def bits_str(self, s: str) -> None:
        self.bits.extend(1 if c == "1" else 0 for c in s)

    def te(self, v: int, cmax: int) -> None:
        """§9.1.1 truncated Exp-Golomb: a single INVERTED bit when the
        range is [0, 1], plain ue(v) otherwise (ref_idx syntax)."""
        if cmax == 1:
            self.u(1 - v, 1)
        else:
            self.ue(v)

    def align_byte(self) -> None:
        while len(self.bits) & 7:
            self.bits.append(0)  # pcm_alignment_zero_bit

    def raw_bytes(self, data: bytes) -> None:
        for byte in data:
            self.u(byte, 8)


class _BitReader(_RbspReader):
    """_RbspReader plus greedy prefix-code lookup against a
    {bitstring: value} table."""

    def te(self, cmax: int) -> int:
        """§9.1.1 truncated Exp-Golomb (see _BitWriter.te)."""
        if cmax == 1:
            return 1 - self.u(1)
        return self.ue()

    def vlc(self, table: dict, what: str):
        acc = ""
        for _ in range(32):
            acc += "1" if self.u(1) else "0"
            if acc in table:
                return table[acc]
        raise MediaFormatError(f"invalid {what} code")

    def align_byte(self) -> None:
        """Consume pcm_alignment_zero_bit padding to the byte edge
        (§7.3.5: the bits must be zero)."""
        while self.pos & 7:
            if self.u(1):
                raise MediaFormatError("nonzero pcm alignment bit")

    def read_bytes(self, n: int) -> bytes:
        if self.pos & 7:
            raise MediaFormatError("unaligned raw byte read")
        start = self.pos >> 3
        if start + n > len(self.data):
            raise MediaFormatError("truncated I_PCM samples")
        self.pos += 8 * n
        return self.data[start : start + n]

    def byte_aligned_stop(self) -> bool:
        """True once only the rbsp_stop_one_bit + padding remain."""
        pos, n = self.pos, len(self.data) * 8
        if pos >= n:
            return True
        # remaining bits must be exactly 1 followed by zeros
        if self.data[pos >> 3] >> (7 - (pos & 7)) & 1:
            rest = pos + 1
            while rest < n:
                if (self.data[rest >> 3] >> (7 - (rest & 7))) & 1:
                    return False
                rest += 1
            return True
        return False


# ---------------------------------------------------------------------------
# §9.2 residual_block_cavlc
# ---------------------------------------------------------------------------


def encode_residual(w: _BitWriter, coeffs: list[int], nc: int) -> int:
    """Write one residual block (``coeffs`` in zig-zag scan order,
    length = maxNumCoeff).  Returns total_coeff (the caller records it
    for neighbor nC bookkeeping)."""
    max_coeff = len(coeffs)
    nz = [(i, v) for i, v in enumerate(coeffs) if v]
    total = len(nz)
    # trailing ones: up to 3 consecutive +-1 from the high-frequency end
    t1 = 0
    for _, v in reversed(nz):
        if abs(v) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    band = _ct_band(nc)
    if band == 8:
        if total == 0:
            w.bits_str("000011")
        else:
            w.u(((total - 1) << 2) | t1, 6)
    else:
        table = {-1: _CT_CHROMA_DC, 0: _CT_NC0, 2: _CT_NC2, 4: _CT_NC4}[band]
        w.bits_str(table[(t1, total)])
    if total == 0:
        return 0
    rev = [v for _, v in reversed(nz)]  # high-frequency first
    for v in rev[:t1]:
        w.u(1 if v < 0 else 0, 1)
    suffix_len = 1 if total > 10 and t1 < 3 else 0
    for idx, v in enumerate(rev[t1:]):
        level_code = 2 * abs(v) - 2 if v > 0 else 2 * abs(v) - 1
        if idx == 0 and t1 < 3:
            level_code -= 2
        if suffix_len == 0 and level_code < 14:
            w.bits_str("0" * level_code + "1")
        elif suffix_len == 0 and level_code < 30:
            w.bits_str("0" * 14 + "1")
            w.u(level_code - 14, 4)
        elif suffix_len > 0 and (level_code >> suffix_len) < 15:
            w.bits_str("0" * (level_code >> suffix_len) + "1")
            w.u(level_code & ((1 << suffix_len) - 1), suffix_len)
        else:
            # escape codes: prefix 15 spans 4096 values after the
            # in-table range, each further prefix doubles (the decoder's
            # §9.2.2.1 levelCode adjustments, inverted); contiguous and
            # non-overlapping by construction
            base = (15 << suffix_len) + (15 if suffix_len == 0 else 0)
            for prefix in range(15, 30):
                size = 1 << (prefix - 3)
                if level_code < base + size:
                    w.bits_str("0" * prefix + "1")
                    w.u(level_code - base, prefix - 3)
                    break
                base += size
            else:
                raise MediaFormatError("level beyond CAVLC escape range")
        if suffix_len == 0:
            suffix_len = 1
        if abs(v) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    total_zeros = nz[-1][0] + 1 - total
    if total < max_coeff:
        if max_coeff == 4:  # chroma DC
            w.bits_str(_TZ_CDC[total][total_zeros])
        else:
            w.bits_str(_TZ4[total][total_zeros])
    zeros_left = total_zeros
    # run_before per coefficient, high-frequency first, except the last
    positions = [i for i, _ in nz]
    for k in range(total - 1, 0, -1):
        if zeros_left == 0:
            break
        run = positions[k] - positions[k - 1] - 1
        w.bits_str(_RUN_BEFORE[min(zeros_left, 7)][run])
        zeros_left -= run
    return total


def decode_residual(r: _BitReader, nc: int, max_coeff: int) -> tuple[list[int], int]:
    """Parse one residual block; returns (coeffs in zig-zag order,
    total_coeff)."""
    band = _ct_band(nc)
    if band == 8:
        code = r.u(6)
        if code == 0b000011:
            total, t1 = 0, 0
        else:
            total, t1 = (code >> 2) + 1, code & 3
    else:
        t1, total = r.vlc(_CT_DEC[band], "coeff_token")
    if total > max_coeff:
        raise MediaFormatError("coeff_token exceeds block size")
    coeffs = [0] * max_coeff
    if total == 0:
        return coeffs, 0
    levels = []
    for _ in range(t1):
        levels.append(-1 if r.u(1) else 1)
    suffix_len = 1 if total > 10 and t1 < 3 else 0
    for idx in range(total - t1):
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 31:
                raise MediaFormatError("oversized level prefix")
        if prefix == 14 and suffix_len == 0:
            suffix_size = 4
        elif prefix >= 15:
            suffix_size = prefix - 3
        else:
            suffix_size = suffix_len
        suffix = r.u(suffix_size) if suffix_size else 0
        level_code = (min(15, prefix) << suffix_len) + suffix
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if idx == 0 and t1 < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 else -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeff:
        if max_coeff == 4:
            tz = r.vlc(_TZ_CDC_DEC[total], "total_zeros(chroma)")
        else:
            tz = r.vlc(_TZ4_DEC[total], "total_zeros")
    else:
        tz = 0
    zeros_left = tz
    runs = []
    for k in range(total - 1):
        if zeros_left == 0:
            runs.append(0)
            continue
        run = r.vlc(_RUN_DEC[min(zeros_left, 7)], "run_before")
        if run > zeros_left:
            raise MediaFormatError("run_before exceeds zeros left")
        runs.append(run)
        zeros_left -= run
    # place coefficients: highest-frequency coeff sits after tz+total-1
    # positions; walk backward through runs
    pos = tz + total - 1
    for k, level in enumerate(levels):
        if pos < 0 or pos >= max_coeff:
            raise MediaFormatError("coefficient position out of range")
        coeffs[pos] = level
        if k < len(runs):
            pos -= 1 + runs[k]
        else:
            pos -= 1
    return coeffs, total


# ---------------------------------------------------------------------------
# block orders and color conversion
# ---------------------------------------------------------------------------

# §6.4.3 z-scan: luma4x4BlkIdx -> (x4, y4) in 4-sample units
_LUMA_BLK_XY = (
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3),
)
_CHROMA_BLK_XY = ((0, 0), (1, 0), (0, 1), (1, 1))


def rgb_to_yuv420(rgb: bytes, w: int, h: int):
    """BT.601 studio-swing RGB → planar YUV 4:2:0 (integer, shared by
    encoder tests and the decoder's inverse)."""
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(np.int32)
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    # 2x2 average subsample (dims are even: SPS writer enforces it)
    u2 = (u[0::2, 0::2] + u[0::2, 1::2] + u[1::2, 0::2] + u[1::2, 1::2] + 2) >> 2
    v2 = (v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2] + v[1::2, 1::2] + 2) >> 2
    clip = lambda p: np.clip(p, 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(u2), clip(v2)


def yuv420_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> bytes:
    h, w = y.shape
    c = y.astype(np.int32) - 16
    d = u.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    e = v.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    r = (298 * c + 409 * e + 128) >> 8
    g = (298 * c - 100 * d - 208 * e + 128) >> 8
    b = (298 * c + 516 * d + 128) >> 8
    out = np.stack(
        [np.clip(p, 0, 255).astype(np.uint8) for p in (r, g, b)], axis=-1
    )
    return out.tobytes()


def _pad_plane(p: np.ndarray, mult: int) -> np.ndarray:
    h, w = p.shape
    ph = (h + mult - 1) // mult * mult
    pw = (w + mult - 1) // mult * mult
    if (ph, pw) == (h, w):
        return p.copy()
    out = np.empty((ph, pw), dtype=p.dtype)
    out[:h, :w] = p
    out[:h, w:] = p[:, w - 1 : w]  # edge-replicate right
    out[h:, :] = out[h - 1 : h, :]  # then bottom
    return out


# ---------------------------------------------------------------------------
# prediction (§8.3.3 luma 16x16 DC, §8.3.4 chroma DC)
# ---------------------------------------------------------------------------


# Intra_16x16 prediction modes (§8.3.3, Table 8-3): 0 Vertical,
# 1 Horizontal, 2 DC, 3 Plane.  Chroma modes (§8.3.4): 0 DC,
# 1 Horizontal, 2 Vertical, 3 Plane (note the swapped H/V order vs
# luma — a spec quirk worth not "fixing").
L16_VERTICAL, L16_HORIZONTAL, L16_DC, L16_PLANE = 0, 1, 2, 3
C_DC, C_HORIZONTAL, C_VERTICAL, C_PLANE = 0, 1, 2, 3


def _plane_pred(top: np.ndarray, left: np.ndarray, corner: int,
                size: int) -> np.ndarray:
    """§8.3.3.4 / §8.3.4 plane prediction for a size x size block
    (size 16 luma, 8 chroma) from the top row, left column, and the
    above-left corner sample."""
    half = size // 2
    hsum = int(
        sum(
            (x + 1) * (int(top[half + x]) - int(top[half - 2 - x]))
            for x in range(half - 1)
        )
    ) + half * (int(top[size - 1]) - corner)
    vsum = int(
        sum(
            (y + 1) * (int(left[half + y]) - int(left[half - 2 - y]))
            for y in range(half - 1)
        )
    ) + half * (int(left[size - 1]) - corner)
    if size == 16:
        b = (5 * hsum + 32) >> 6
        c = (5 * vsum + 32) >> 6
    else:
        b = (17 * hsum + 16) >> 5
        c = (17 * vsum + 16) >> 5
    a = 16 * (int(top[size - 1]) + int(left[size - 1]))
    yy, xx = np.mgrid[0:size, 0:size]
    out = (a + b * (xx - (half - 1)) + c * (yy - (half - 1)) + 16) >> 5
    return np.clip(out, 0, 255).astype(np.int64)


def _avail_lt(st, mbx: int, mby: int) -> tuple[bool, bool]:
    """(left, top) MB-neighbour availability — position-only when no
    frame state is given, position + same-slice otherwise (§6.4.9)."""
    if st is None:
        return mbx > 0, mby > 0
    return st.mb_avail(mbx - 1, mby), st.mb_avail(mbx, mby - 1)


def _avail_ltc(st, mbx: int, mby: int) -> tuple[bool, bool, bool]:
    """(left, top, top-left corner) availability.  The corner needs
    its OWN slice check: the MB above can be the first MB of a slice
    whose predecessor (the corner) belongs to the previous slice."""
    if st is None:
        return mbx > 0, mby > 0, mbx > 0 and mby > 0
    return (
        st.mb_avail(mbx - 1, mby),
        st.mb_avail(mbx, mby - 1),
        st.mb_avail(mbx - 1, mby - 1),
    )


def _pred_luma16(
    mode: int, recon: np.ndarray, mbx: int, mby: int, st=None
) -> np.ndarray:
    """16x16 luma prediction block for the given Intra_16x16 mode;
    raises MediaFormatError when the mode's neighbours are absent (a
    conforming encoder never picks such a mode)."""
    avail_l, avail_t, avail_c = _avail_ltc(st, mbx, mby)
    x0, y0 = mbx * 16, mby * 16
    top = (
        recon[y0 - 1, x0 : x0 + 16].astype(np.int64) if avail_t else None
    )
    left = (
        recon[y0 : y0 + 16, x0 - 1].astype(np.int64) if avail_l else None
    )
    if mode == L16_DC:
        return np.full(
            (16, 16), _pred_luma_dc(recon, mbx, mby, st=st), np.int64
        )
    if mode == L16_VERTICAL:
        if top is None:
            raise MediaFormatError("vertical pred without top neighbour")
        return np.tile(top, (16, 1))
    if mode == L16_HORIZONTAL:
        if left is None:
            raise MediaFormatError("horizontal pred without left neighbour")
        return np.tile(left[:, None], (1, 16))
    if mode == L16_PLANE:
        if top is None or left is None or not avail_c:
            raise MediaFormatError("plane pred without both neighbours")
        corner = int(recon[y0 - 1, x0 - 1])
        return _plane_pred(top, left, corner, 16)
    raise MediaFormatError(f"invalid Intra_16x16 prediction mode {mode}")


def _pred_chroma8(
    mode: int, recon: np.ndarray, mbx: int, mby: int, st=None
) -> np.ndarray:
    """8x8 chroma prediction for intra_chroma_pred_mode (§8.3.4)."""
    avail_l, avail_t, avail_c = _avail_ltc(st, mbx, mby)
    x0, y0 = mbx * 8, mby * 8
    top = (
        recon[y0 - 1, x0 : x0 + 8].astype(np.int64) if avail_t else None
    )
    left = (
        recon[y0 : y0 + 8, x0 - 1].astype(np.int64) if avail_l else None
    )
    if mode == C_DC:
        return _pred_chroma_dc(recon, mbx, mby, st=st)
    if mode == C_HORIZONTAL:
        if left is None:
            raise MediaFormatError("chroma H pred without left neighbour")
        return np.tile(left[:, None], (1, 8))
    if mode == C_VERTICAL:
        if top is None:
            raise MediaFormatError("chroma V pred without top neighbour")
        return np.tile(top, (8, 1))
    if mode == C_PLANE:
        if top is None or left is None or not avail_c:
            raise MediaFormatError("chroma plane pred without neighbours")
        corner = int(recon[y0 - 1, x0 - 1])
        return _plane_pred(top, left, corner, 8)
    raise MediaFormatError(f"invalid chroma prediction mode {mode}")


def _pred_luma_dc(
    recon: np.ndarray, mbx: int, mby: int, st=None
) -> int:
    avail_l, avail_t = _avail_lt(st, mbx, mby)
    x0, y0 = mbx * 16, mby * 16
    top = (
        recon[y0 - 1, x0 : x0 + 16].astype(np.int64) if avail_t else None
    )
    left = (
        recon[y0 : y0 + 16, x0 - 1].astype(np.int64) if avail_l else None
    )
    if top is not None and left is not None:
        return int((top.sum() + left.sum() + 16) >> 5)
    if top is not None:
        return int((top.sum() + 8) >> 4)
    if left is not None:
        return int((left.sum() + 8) >> 4)
    return 128


def _pred_chroma_dc(
    recon: np.ndarray, mbx: int, mby: int, st=None
) -> np.ndarray:
    """8x8 DC prediction, per-4x4-quadrant neighbor rules (§8.3.4
    mode 0).  Returns the 8x8 prediction block."""
    avail_l, avail_t = _avail_lt(st, mbx, mby)
    x0, y0 = mbx * 8, mby * 8
    top = (
        recon[y0 - 1, x0 : x0 + 8].astype(np.int64) if avail_t else None
    )
    left = (
        recon[y0 : y0 + 8, x0 - 1].astype(np.int64) if avail_l else None
    )
    pred = np.empty((8, 8), dtype=np.int64)

    def fill(bx, by, val):
        pred[by : by + 4, bx : bx + 4] = val

    def t(i):  # top 4-sample group sum
        return int(top[i : i + 4].sum())

    def l(i):  # noqa: E743 - left 4-sample group sum
        return int(left[i : i + 4].sum())

    for bx, by in ((0, 0), (4, 0), (0, 4), (4, 4)):
        corner = (bx, by)
        if corner in ((0, 0), (4, 4)):
            if top is not None and left is not None:
                val = (t(bx) + l(by) + 4) >> 3
            elif top is not None:
                val = (t(bx) + 2) >> 2
            elif left is not None:
                val = (l(by) + 2) >> 2
            else:
                val = 128
        elif corner == (4, 0):
            if top is not None:
                val = (t(4) + 2) >> 2
            elif left is not None:
                val = (l(0) + 2) >> 2
            else:
                val = 128
        else:  # (0, 4)
            if left is not None:
                val = (l(4) + 2) >> 2
            elif top is not None:
                val = (t(0) + 2) >> 2
            else:
                val = 128
        fill(bx, by, val)
    return pred


# ---------------------------------------------------------------------------
# per-frame codec state
# ---------------------------------------------------------------------------


class _FrameState:
    """Reconstruction planes + totalCoeff maps (the CAVLC nC context),
    shared verbatim by encoder (closed loop) and decoder."""

    def __init__(self, mb_w: int, mb_h: int):
        self.mb_w, self.mb_h = mb_w, mb_h
        self.y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
        self.u = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        self.v = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        self.nc_y = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32)
        self.nc_c = [
            np.zeros((mb_h * 2, mb_w * 2), dtype=np.int32) for _ in range(2)
        ]
        # Intra4x4PredMode per 4x4 block; blocks of non-I_4x4 MBs count
        # as DC (2) for the most-probable-mode rule (§8.3.1.1)
        self.i4_mode = np.full((mb_h * 4, mb_w * 4), 2, dtype=np.int32)
        # P-slice motion state, per 4x4 block (partition granularity):
        # the L0 motion vector in quarter-pel units and whether the
        # block is inter-coded (intra blocks are 'not available for
        # inter prediction' in §8.4.1.3.2 — refIdx -1, mv 0)
        self.mv = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        self.inter = np.zeros((mb_h * 4, mb_w * 4), dtype=bool)
        # B-slice additions (round 12): the L1 motion field and
        # per-list usage flags.  For P slices uses0 == inter and uses1
        # stays False, so the P paths (which write via _store_part_mv)
        # need no changes; B paths write both.
        self.mv1 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        self.uses0 = np.zeros((mb_h * 4, mb_w * 4), dtype=bool)
        self.uses1 = np.zeros((mb_h * 4, mb_w * 4), dtype=bool)
        # Multi-reference additions (round 13): per-4x4 reference index
        # into each list (meaningful only where the list is used; 0
        # everywhere in the single-reference paths, so those stay
        # byte-identical), and the lists' full picture order counts —
        # set only by the multi-ref / temporal-direct walks, read by
        # the §8.7.2.1 same-reference-PICTURE deblock rule.
        self.ref0 = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32)
        self.ref1 = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32)
        self.l0_pocs: tuple | None = None
        self.l1_pocs: tuple | None = None
        # Multi-slice pictures (round 13): per-MB slice id, written as
        # each macroblock decodes/encodes, and the id of the slice in
        # flight.  Neighbour AVAILABILITY (§6.4.9: a neighbour in a
        # different slice of the same picture is not available) is
        # position + same-slice; the single-slice paths keep ids 0/0,
        # so every check degenerates to the pure position rule.
        self.slice_id = np.zeros((mb_h, mb_w), dtype=np.int32)
        self.cur_slice = 0

    def mb_avail(self, mbx: int, mby: int) -> bool:
        """Is MB (mbx, mby) available as a neighbour for the slice in
        flight — inside the picture AND in the same slice."""
        if mbx < 0 or mby < 0 or mbx >= self.mb_w or mby >= self.mb_h:
            return False
        return int(self.slice_id[mby, mbx]) == self.cur_slice

    def blk_avail(self, bx: int, by: int) -> bool:
        """Availability of the 4x4 luma block (bx, by)."""
        if bx < 0 or by < 0 or bx >= self.mb_w * 4 or by >= self.mb_h * 4:
            return False
        return int(self.slice_id[by // 4, bx // 4]) == self.cur_slice

    def i4_mpm(self, abx: int, aby: int) -> int:
        if not self.blk_avail(abx - 1, aby) or not self.blk_avail(
            abx, aby - 1
        ):
            return 2  # unavailable neighbour forces DC
        return int(
            min(self.i4_mode[aby, abx - 1], self.i4_mode[aby - 1, abx])
        )

    def nc_luma(self, bx: int, by: int) -> int:
        a = (
            int(self.nc_y[by, bx - 1])
            if self.blk_avail(bx - 1, by) else None
        )
        b = (
            int(self.nc_y[by - 1, bx])
            if self.blk_avail(bx, by - 1) else None
        )
        if a is not None and b is not None:
            return (a + b + 1) >> 1
        if a is not None:
            return a
        if b is not None:
            return b
        return 0

    def nc_chroma(self, comp: int, bx: int, by: int) -> int:
        m = self.nc_c[comp]
        a = (
            int(m[by, bx - 1])
            if self.mb_avail((bx - 1) // 2, by // 2) else None
        )
        b = (
            int(m[by - 1, bx])
            if self.mb_avail(bx // 2, (by - 1) // 2) else None
        )
        if a is not None and b is not None:
            return (a + b + 1) >> 1
        if a is not None:
            return a
        if b is not None:
            return b
        return 0


def _zigzag_list(block: np.ndarray, skip_dc: bool) -> list[int]:
    flat = block.reshape(16)
    scan = [int(flat[z]) for z in ZIGZAG4]
    return scan[1:] if skip_dc else scan


def _unzigzag(coeffs: list[int], skip_dc: bool) -> np.ndarray:
    out = np.zeros(16, dtype=np.int64)
    scan = ZIGZAG4[1:] if skip_dc else ZIGZAG4
    for z, v in zip(scan, coeffs):
        out[z] = v
    return out.reshape(4, 4)


def _reconstruct_mb(
    st: _FrameState,
    mbx: int,
    mby: int,
    qp: int,
    dc_grid: np.ndarray,
    ac_blocks: list[np.ndarray],
    cdc: list[np.ndarray],
    cac: list[list[np.ndarray]],
    chroma_qp_offset: int = 0,
    pred_mode: int = L16_DC,
    chroma_mode: int = C_DC,
) -> None:
    """Shared §8.5 reconstruction: quantized levels in, clipped pixels
    into the frame state."""
    # luma
    pred = _pred_luma16(pred_mode, st.y, mbx, mby, st=st)
    dc_deq = dequant_luma_dc(dc_grid, qp)
    x0, y0 = mbx * 16, mby * 16
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        d = dequant_ac(ac_blocks[blk], qp, skip_dc=True)
        d[0, 0] = int(dc_deq[by, bx])
        res = idct4x4(d)
        ys, xs = y0 + by * 4, x0 + bx * 4
        st.y[ys : ys + 4, xs : xs + 4] = np.clip(
            pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res, 0, 255
        )
    _reconstruct_chroma(st, mbx, mby, qp, chroma_qp_offset, chroma_mode,
                        cdc, cac)


def _reconstruct_chroma(
    st: _FrameState, mbx: int, mby: int, qp: int, chroma_qp_offset: int,
    chroma_mode: int, cdc: list[np.ndarray], cac: list[list[np.ndarray]],
) -> None:
    preds = [
        _pred_chroma8(chroma_mode, plane, mbx, mby, st=st)
        for plane in (st.u, st.v)
    ]
    _recon_chroma_blocks(st, mbx, mby, qp, chroma_qp_offset, preds, cdc, cac)


def _recon_chroma_blocks(
    st: _FrameState, mbx: int, mby: int, qp: int, chroma_qp_offset: int,
    preds: list[np.ndarray], cdc: list[np.ndarray],
    cac: list[list[np.ndarray]],
) -> None:
    """§8.5 chroma reconstruction against CALLER-SUPPLIED predictions —
    intra modes and inter motion compensation share this tail."""
    # chroma: qPi = Clip3(0, 51, QPy + pps offset), then Table 8-15
    qpc = _QPC[max(0, min(51, qp + chroma_qp_offset))]
    for comp, plane in ((0, st.u), (1, st.v)):
        cpred = preds[comp]
        dc_deq_c = dequant_chroma_dc(cdc[comp], qpc)
        cx0, cy0 = mbx * 8, mby * 8
        for blk in range(4):
            bx, by = _CHROMA_BLK_XY[blk]
            d = dequant_ac(cac[comp][blk], qpc, skip_dc=True)
            d[0, 0] = int(dc_deq_c[by, bx])
            res = idct4x4(d)
            ys, xs = cy0 + by * 4, cx0 + bx * 4
            plane[ys : ys + 4, xs : xs + 4] = np.clip(
                cpred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res, 0, 255
            )


# ---------------------------------------------------------------------------
# parameter sets and slice layer (§7.3)
# ---------------------------------------------------------------------------

DEFAULT_QP = 26
# encoder's I_PCM escape threshold: raw MB payload is 384 bytes; a
# coded MB beating that has no business staying coded
_PCM_BITS = 384 * 8


def write_pps(
    qp: int = DEFAULT_QP, chroma_qp_offset: int = 0,
    weighted_pred: bool = False,
    weighted_bipred: bool = False,
) -> bytes:
    """Minimal CAVLC PPS: one slice group, deblocking-control present
    (so slices can legally disable it).  ``weighted_pred``
    sets weighted_pred_flag — P slice headers then carry a
    pred_weight_table (round 13); ``weighted_bipred`` sets
    weighted_bipred_idc 1 (EXPLICIT) — B slice headers then carry a
    two-list pred_weight_table (round 15; implicit idc 2 stays
    outside the subset)."""
    w = _RbspWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(0, 1)  # entropy_coding_mode (CAVLC)
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(1 if weighted_pred else 0, 1)  # weighted_pred
    # weighted_bipred_idc: 0 default, 1 explicit, 2 implicit (round 16)
    w.u(2 if weighted_bipred == 2 else (1 if weighted_bipred else 0), 2)
    w.se(qp - 26)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(chroma_qp_offset)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred
    w.u(0, 1)  # redundant_pic_cnt_present
    return b"\x68" + w.finish()


def parse_pps(nal: bytes) -> dict:
    if not nal or (nal[0] & 0x1F) != 8:
        raise MediaFormatError("not an H.264 PPS NAL")
    r = _RbspReader(_unescape_rbsp(nal[1:]))
    out = {"pps_id": r.ue(), "sps_id": r.ue()}
    if r.u(1):  # entropy_coding_mode: CABAC is probe-only
        raise MediaFormatError("CABAC stream: decoder is CAVLC-only")
    if r.u(1):
        # adds delta_pic_order_cnt_bottom to slice headers, which the
        # slice parser does not read — desync, so refuse up front
        raise MediaFormatError(
            "bottom-field pic-order signalling outside the intra subset"
        )
    if r.ue() != 0:
        raise MediaFormatError("slice groups unsupported")
    if r.ue() != 0 or r.ue() != 0:
        # >1 default active ref per list ⇒ ref_idx syntax in every
        # inter MB, which the MB parsers don't read — desync, refuse
        raise MediaFormatError(
            "multi-reference PPS defaults outside the subset"
        )
    out["weighted_pred"] = bool(r.u(1))
    out["weighted_bipred"] = r.u(2)
    if out["weighted_bipred"] == 3:
        # idc shall be 0..2 (§7.4.2.2); 3 has no defined semantics
        raise MediaFormatError("weighted_bipred_idc 3 is not a legal value")
    out["pic_init_qp"] = 26 + r.se()
    r.se()
    out["chroma_qp_index_offset"] = r.se()
    out["deblocking_control_present"] = r.u(1)
    if r.u(1):
        raise MediaFormatError("constrained_intra_pred unsupported")
    if r.u(1):
        # adds redundant_pic_cnt to slice headers — same desync class
        raise MediaFormatError(
            "redundant-picture signalling outside the intra subset"
        )
    return out


def _parse_sps_slice_fields(nal: bytes) -> dict:
    """Full SPS walk for the decoder: the slice-header bit widths
    (frame_num / POC), coded macroblock dimensions, and the crop
    rectangle.  parse_h264_sps validates first (profile/level errors
    surface identically in probe and decode)."""
    meta = parse_h264_sps(nal)  # validates; cropped output dims
    r = _RbspReader(_unescape_rbsp(nal[1:]))
    profile = r.u(8)
    r.u(8)
    r.u(8)
    r.ue()  # sps_id
    if profile in _H264_HIGH_PROFILES:
        chroma_format = r.ue()
        if chroma_format == 3:
            r.u(1)
        if chroma_format != 1:
            raise MediaFormatError(
                "only 4:2:0 chroma is in the intra subset"
            )
        if r.ue() != 0 or r.ue() != 0:
            raise MediaFormatError(
                "only 8-bit depth is in the intra subset"
            )
        r.u(1)
        if r.u(1):
            raise MediaFormatError("scaling matrices unsupported")
    meta["log2_max_frame_num"] = 4 + r.ue()
    poc_type = r.ue()
    meta["poc_type"] = poc_type
    if poc_type == 0:
        meta["log2_max_poc_lsb"] = 4 + r.ue()
    elif poc_type == 1:
        # §8.2.1.3 frame_num-derived POC (round 14): the cycle fields
        # are pure structural syntax — parsed in full, derived in
        # _parse_slice_header via the shared poc_ctx
        meta["poc1_always_zero"] = bool(r.u(1))
        meta["poc1_offset_nonref"] = r.se()
        r.se()  # offset_for_top_to_bottom_field (frame_mbs_only)
        n_cyc = r.ue()
        if n_cyc > 255:
            raise MediaFormatError("POC cycle length out of range")
        meta["poc1_offsets"] = [r.se() for _ in range(n_cyc)]
    elif poc_type != 2:
        raise MediaFormatError("invalid pic_order_cnt_type")
    # §8.2.5.3's sliding window counts against THIS, not a fixed
    # depth: with long-term references in the DPB (round 14) the
    # short-term window is num_ref_frames minus the long-term count
    meta["max_num_ref_frames"] = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed
    meta["mb_w"] = r.ue() + 1
    mb_h_units = r.ue() + 1
    if meta["mb_w"] * mb_h_units > 1 << 20:  # ~16 gigapixel budget
        # validated BEFORE any plane allocation: a hostile SPS must
        # quarantine, not OOM (the codecs fuzz contract)
        raise MediaFormatError("h264 coded picture size beyond sane budget")
    if r.u(1) != 1:
        raise MediaFormatError("interlaced (field) coding unsupported")
    meta["mb_h"] = mb_h_units
    r.u(1)  # direct_8x8_inference
    if r.u(1):  # frame_cropping
        meta["crop_l"] = 2 * r.ue()
        meta["crop_r"] = 2 * r.ue()
        meta["crop_t"] = 2 * r.ue()
        meta["crop_b"] = 2 * r.ue()
    else:
        meta["crop_l"] = meta["crop_r"] = 0
        meta["crop_t"] = meta["crop_b"] = 0
    return meta


def _write_weight_entries(w: _BitWriter, entries: list) -> None:
    """§7.3.3.2 weight/offset entries for ONE list (None = identity,
    both flags 0)."""
    for ent in entries:
        if ent is None:
            w.u(0, 1)  # luma_weight_lX_flag
            w.u(0, 1)  # chroma_weight_lX_flag
            continue
        w.u(1, 1)
        w.se(ent["lw"])
        w.se(ent["lo"])
        w.u(1, 1)
        for j in range(2):
            w.se(ent["cw"][j])
            w.se(ent["co"][j])


def _write_slice_header(
    w: _BitWriter, qp: int, pic_init_qp: int, idr_pic_id: int,
    log2_max_frame_num: int, poc_type: int, log2_max_poc_lsb: int,
    deblock: bool = True, slice_type: str = "I", frame_num: int = 0,
    poc_lsb: int | None = None,
    num_ref_l0: int = 1, num_ref_l1: int = 1,
    direct_spatial: bool = True, wp: dict | None = None,
    first_mb: int = 0, rplm_l0: list | None = None,
    rplm_l1: list | None = None, mmco: list | None = None,
    wpb: dict | None = None,
) -> None:
    w.ue(first_mb)  # first_mb_in_slice
    # I/P/B + 5: 'all slices in this picture have this type'
    w.ue({"I": 7, "P": 5, "B": 6}[slice_type])
    w.ue(0)  # pps_id
    w.u(frame_num % (1 << log2_max_frame_num), log2_max_frame_num)
    if slice_type == "I":  # IDR
        w.ue(idr_pic_id)
    if poc_type == 0:
        if poc_lsb is None:
            poc_lsb = 2 * frame_num
        w.u(poc_lsb % (1 << log2_max_poc_lsb), log2_max_poc_lsb)
    if slice_type == "B":
        w.u(1 if direct_spatial else 0, 1)  # direct_spatial_mv_pred_flag
        if num_ref_l0 > 1 or num_ref_l1 > 1:
            w.u(1, 1)  # num_ref_idx_active_override_flag
            w.ue(num_ref_l0 - 1)
            w.ue(num_ref_l1 - 1)
        else:
            w.u(0, 1)  # num_ref_idx_active_override_flag
        for ops in (rplm_l0, rplm_l1):
            if ops:
                w.u(1, 1)  # ref_pic_list_modification_flag (round 14)
                for idc, val in ops:
                    w.ue(idc)
                    w.ue(val)
                w.ue(3)
            else:
                w.u(0, 1)
        if wpb is not None and not wpb.get("implicit"):
            # pred_weight_table (§7.3.3.2, weighted_bipred_idc 1 —
            # round 15): shared denominators, then entries for BOTH
            # lists (one per active reference each; implicit idc 2
            # carries NO table — weights are POC-derived)
            w.ue(wpb["ld"])
            w.ue(wpb["cd"])
            _write_weight_entries(w, wpb["w0"])
            _write_weight_entries(w, wpb["w1"])
        # non-reference picture (nal_ref_idc 0): NO dec_ref_pic_marking
    elif slice_type == "P":
        if num_ref_l0 > 1:
            w.u(1, 1)  # num_ref_idx_active_override_flag
            w.ue(num_ref_l0 - 1)
        else:
            w.u(0, 1)  # num_ref_idx_active_override_flag
        if rplm_l0:
            # §7.3.3.1 ref_pic_list_modification (round 14): short-term
            # reorder ops, terminated by idc 3
            w.u(1, 1)
            for idc, val in rplm_l0:
                w.ue(idc)
                w.ue(val)
            w.ue(3)
        else:
            w.u(0, 1)  # ref_pic_list_modification_flag_l0
        if wp is not None:
            # pred_weight_table (§7.3.3.2) — explicit weighted
            # prediction, one entry per active list-0 reference
            w.ue(wp["ld"])
            w.ue(wp["cd"])
            _write_weight_entries(w, wp["w"])
        # dec_ref_pic_marking (nal_ref_idc != 0, non-IDR):
        if mmco:
            # §7.3.3.3 adaptive marking (round 14): ops terminated by
            # op 0; MMCO 3 carries two operands (picNum diff + index)
            w.u(1, 1)
            for op in mmco:
                w.ue(op[0])
                for v in op[1:]:
                    w.ue(v)
            w.ue(0)
        else:
            w.u(0, 1)  # adaptive_ref_pic_marking_mode_flag (sliding)
    else:
        w.u(0, 1)  # no_output_of_prior_pics
        w.u(0, 1)  # long_term_reference_flag
    w.se(qp - pic_init_qp)  # slice_qp_delta
    if deblock:
        w.ue(0)  # disable_deblocking_filter_idc = 0 (filter on)
        w.se(0)  # slice_alpha_c0_offset_div2
        w.se(0)  # slice_beta_offset_div2
    else:
        w.ue(1)  # idc = 1: filter off, in-stream


def _parse_rplm(r: _BitReader) -> list | None:
    """§7.3.3.1 ref_pic_list_modification for one list → list of
    (idc, value) ops, or None when the flag is 0 (round 14).  idc
    0/1 carry abs_diff_pic_num_minus1 (short-term picNum steps);
    idc 2 carries long_term_pic_num — selection out of the DPB's
    long-term entries (round-14 long-term machinery)."""
    if not r.u(1):
        return None
    ops: list = []
    while True:
        idc = r.ue()
        if idc == 3:
            break
        if idc in (0, 1):
            ops.append((idc, r.ue()))
        elif idc == 2:
            # long_term_pic_num (frame coding: == LongTermFrameIdx);
            # resolved against the tracked DPB's long-term entries
            ops.append((2, r.ue()))
        else:
            raise MediaFormatError(
                "invalid ref_pic_list_modification idc"
            )
        if len(ops) > 32:
            raise MediaFormatError("ref list modification overlong")
    return ops


def _parse_weight_entries(
    r: _BitReader, n: int, ld: int, cd: int
) -> list:
    """§7.3.3.2 weight/offset entries for ONE list: absent flags mean
    identity (weight = 1 << denom, offset 0); every parsed value is
    range-checked per the spec's [-128, 127] bound."""
    out = []
    for _ in range(n):
        ent = {"lw": 1 << ld, "lo": 0,
               "cw": [1 << cd, 1 << cd], "co": [0, 0]}
        if r.u(1):  # luma_weight_lX_flag
            ent["lw"] = r.se()
            ent["lo"] = r.se()
        if r.u(1):  # chroma_weight_lX_flag
            ent["cw"], ent["co"] = [], []
            for _j in range(2):
                ent["cw"].append(r.se())
                ent["co"].append(r.se())
        for v in (ent["lw"], ent["lo"], *ent["cw"], *ent["co"]):
            if not -128 <= v <= 127:
                raise MediaFormatError("prediction weight out of range")
        out.append(ent)
    return out


def _parse_slice_header(
    r: _BitReader, sps: dict, pps: dict, idr: bool = True,
    nal_ref_idc: int = 3, poc_ctx: dict | None = None,
) -> tuple[str, int, bool, int, int, dict]:
    """Returns (slice type 'I'/'P'/'B', slice QP, deblocking enabled,
    alpha offset, beta offset, info) — ``info`` carries the round-13
    additions: ``num_ref_l0``/``num_ref_l1`` (the active reference
    counts, ≥1), ``direct_spatial`` (False = temporal direct), and
    ``poc`` (the FULL picture order count, unwrapped via ``poc_ctx``) —
    and rejects anything outside the subset.

    ``poc_ctx`` (a dict carried across one stream walk) enforces the
    LOW-DELAY subset: pic_order_cnt_lsb must move strictly FORWARD
    (mod-wrap distance < half the lsb range) between pictures.  A
    display-reordered stream — the overwhelmingly common B shape,
    where the B's POC sits BETWEEN its references' — would otherwise
    decode with swapped L0/L1 lists against the recency-ordered DPB
    and emit silent wrong frames (round-12 review); with the check it
    quarantines.  An IDR resets the context."""
    first_mb = r.ue()
    slice_type = r.ue()
    if slice_type % 5 == 2:
        stype = "I"
    elif slice_type % 5 == 0:
        stype = "P"
        if idr:
            raise MediaFormatError("P slice in an IDR NAL")
    elif slice_type % 5 == 1:
        stype = "B"
        if idr:
            raise MediaFormatError("B slice in an IDR NAL")
    else:
        raise MediaFormatError(
            "SP/SI slice outside the subset"
        )
    if idr and stype != "I":
        raise MediaFormatError("IDR picture must carry I slices")
    r.ue()  # pps_id (single-PPS streams)
    frame_num = r.u(sps["log2_max_frame_num"])
    if idr:
        r.ue()  # idr_pic_id
    poc_full = None
    if sps["poc_type"] == 0:
        poc_lsb = r.u(sps["log2_max_poc_lsb"])
        poc_full = poc_lsb
        if poc_ctx is not None:
            prev = poc_ctx.get("poc")
            if idr:
                poc_full = poc_lsb
            elif prev is not None:
                span = 1 << sps["log2_max_poc_lsb"]
                fwd = (poc_lsb - prev) % span
                if fwd == 0 or fwd >= span // 2:
                    raise MediaFormatError(
                        "non-monotonic picture order: display-reordered "
                        "stream outside the low-delay subset"
                    )
                poc_full = poc_ctx.get("poc_full", prev) + fwd
            poc_ctx["poc"] = poc_lsb
            poc_ctx["poc_full"] = poc_full
    else:
        # POC types 1 and 2 derive from frame_num (§8.2.1.3 /
        # §8.2.1.4, round 14).  Type-1 syntax is parsed regardless of
        # context (bitstream layout); derivation runs only on the
        # first slice (poc_ctx present), like the type-0 path.
        delta0 = 0
        if sps["poc_type"] == 1 and not sps["poc1_always_zero"]:
            delta0 = r.se()  # delta_pic_order_cnt[0]
        if poc_ctx is not None:
            max_fn = 1 << sps["log2_max_frame_num"]
            if idr:
                if frame_num != 0:
                    raise MediaFormatError("IDR frame_num must be 0")
                fno = 0
            else:
                prev_fn = poc_ctx.get("prev_frame_num")
                if prev_fn is None:
                    raise MediaFormatError(
                        "non-IDR picture before any IDR"
                    )
                fno = poc_ctx.get("frame_num_offset", 0)
                if frame_num < prev_fn:
                    fno += max_fn
            if sps["poc_type"] == 1:
                offsets = sps["poc1_offsets"]
                ncyc = len(offsets)
                abs_fn = fno + frame_num if ncyc else 0
                if nal_ref_idc == 0 and abs_fn > 0:
                    abs_fn -= 1
                if abs_fn > 0:
                    cyc_cnt = (abs_fn - 1) // ncyc
                    in_cyc = (abs_fn - 1) % ncyc
                    expected = cyc_cnt * sum(offsets) + sum(
                        offsets[: in_cyc + 1]
                    )
                else:
                    expected = 0
                if nal_ref_idc == 0:
                    expected += sps["poc1_offset_nonref"]
                poc_full = expected + delta0
            else:  # poc_type 2
                tmp = 2 * (fno + frame_num)
                poc_full = tmp - 1 if nal_ref_idc == 0 else tmp
            prev_poc = poc_ctx.get("poc_full")
            if not idr and prev_poc is not None and poc_full <= prev_poc:
                raise MediaFormatError(
                    "non-monotonic picture order: display-reordered "
                    "stream outside the low-delay subset"
                )
            poc_ctx["poc_full"] = poc_full
            poc_ctx["frame_num_offset"] = fno
            poc_ctx["prev_frame_num"] = frame_num
    info = {"num_ref_l0": 1, "num_ref_l1": 1, "direct_spatial": True,
            "poc": poc_full, "first_mb": first_mb,
            "frame_num": frame_num, "rplm_l0": None, "rplm_l1": None,
            "mmco": None}
    if stype == "B":
        info["direct_spatial"] = bool(r.u(1))
        if r.u(1):  # num_ref_idx_active_override_flag
            info["num_ref_l0"] = r.ue() + 1
            info["num_ref_l1"] = r.ue() + 1
            if info["num_ref_l0"] > 16 or info["num_ref_l1"] > 16:
                # a FRAME DPB holds at most 16 references (levels cap
                # MaxDpbFrames at 16) — round 16 widened the subset
                # from 8 to the spec's own frame ceiling
                raise MediaFormatError(
                    "num_ref_idx_active beyond the 16-frame DPB"
                )
        info["rplm_l0"] = _parse_rplm(r)
        info["rplm_l1"] = _parse_rplm(r)
        if pps.get("weighted_bipred") == 1:
            # pred_weight_table (§7.3.3.2, explicit B — round 15):
            # shared denominators, then entries for BOTH lists
            ld = r.ue()
            cd = r.ue()
            if ld > 7 or cd > 7:
                raise MediaFormatError("weight denominator out of range")
            info["wpb"] = {
                "ld": ld,
                "cd": cd,
                "w0": _parse_weight_entries(
                    r, info["num_ref_l0"], ld, cd
                ),
                "w1": _parse_weight_entries(
                    r, info["num_ref_l1"], ld, cd
                ),
            }
        elif pps.get("weighted_bipred") == 2:
            # IMPLICIT weighted bi-prediction (§8.4.2.3.1, round 16):
            # the header carries NO table — weights derive from POC
            # distances per (refIdxL0, refIdxL1) pair at slice setup
            # (_implicit_wp_table)
            info["wpb"] = {"implicit": True}
    elif stype == "P":
        if r.u(1):  # num_ref_idx_active_override_flag
            info["num_ref_l0"] = r.ue() + 1
            if info["num_ref_l0"] > 16:
                raise MediaFormatError(
                    "num_ref_idx_active beyond the 16-frame DPB"
                )
        info["rplm_l0"] = _parse_rplm(r)
        if pps.get("weighted_pred"):
            # pred_weight_table (§7.3.3.2): explicit weights/offsets
            # per active list-0 reference; absent flags mean identity
            # (weight = 1 << denom, offset 0)
            ld = r.ue()
            cd = r.ue()
            if ld > 7 or cd > 7:
                raise MediaFormatError("weight denominator out of range")
            info["wp"] = {
                "ld": ld,
                "cd": cd,
                "w": _parse_weight_entries(r, info["num_ref_l0"], ld, cd),
            }
    # dec_ref_pic_marking presence follows the NAL header, NOT the
    # slice type (§7.3.3): IDR pictures carry the two output/long-term
    # flags; non-IDR REFERENCE pictures (nal_ref_idc != 0) carry
    # adaptive_ref_pic_marking_mode_flag — including non-IDR I slices
    # (open-GOP recovery points), which previously misparsed here and
    # could desync into wrong pixels instead of quarantining.
    if idr:
        r.u(1)  # no_output_of_prior_pics
        # long_term_reference_flag (round 14): the IDR itself enters
        # the DPB as the long-term reference with LongTermFrameIdx 0
        # (§8.2.5.1); the walkers honour it via the marking info
        info["idr_longterm"] = bool(r.u(1))
    elif nal_ref_idc != 0:
        if r.u(1):  # adaptive_ref_pic_marking_mode_flag
            # §7.3.3.3 adaptive marking (round 14): the full MMCO
            # layer decodes — 1 (short-term drop), 2/3/4/6 (long-term
            # lifecycle) and 5 (stream reset); semantic violations
            # still quarantine when the ops are applied.
            ops: list = []
            while True:
                op = r.ue()
                if op == 0:
                    break
                if op == 1:
                    ops.append((1, r.ue()))
                elif op == 2:
                    ops.append((2, r.ue()))  # long_term_pic_num
                elif op == 3:
                    # difference_of_pic_nums_minus1 + long_term_frame_idx
                    ops.append((3, r.ue(), r.ue()))
                elif op == 4:
                    ops.append((4, r.ue()))  # max_long_term_frame_idx+1
                elif op == 6:
                    ops.append((6, r.ue()))  # current → long-term idx
                elif op == 5:
                    # stream reset (round 14): every reference marked
                    # unused, the current picture's frame_num and POC
                    # become 0 for all subsequent derivations
                    ops.append((5,))
                else:
                    raise MediaFormatError(
                        "invalid memory_management_control_operation"
                    )
                if len(ops) > 32:
                    raise MediaFormatError("MMCO op list overlong")
            info["mmco"] = ops
    qp = pps["pic_init_qp"] + r.se()
    if not 0 <= qp <= 51:
        raise MediaFormatError("slice QP out of range")
    if not pps["deblocking_control_present"]:
        # no per-slice control => the filter defaults ON with zero
        # offsets (§8.7 is implemented for intra pictures, round 9)
        return stype, qp, True, 0, 0, info
    idc = r.ue()
    if idc > 2:
        raise MediaFormatError("invalid disable_deblocking_filter_idc")
    if idc == 1:
        return stype, qp, False, 0, 0, info
    # idc 0 or 2 (2 = skip slice boundaries; identical here — one
    # slice per picture): offsets follow
    alpha_off = 2 * r.se()
    beta_off = 2 * r.se()
    if not (-12 <= alpha_off <= 12 and -12 <= beta_off <= 12):
        raise MediaFormatError("deblocking offsets out of range")
    return stype, qp, True, alpha_off, beta_off, info


# ---------------------------------------------------------------------------
# frame codec (I_16x16 DC, one slice per picture)
# ---------------------------------------------------------------------------


def _rollback_to_pcm(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, mark: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    mtype_off: int = 0,
) -> None:
    """Discard the coded MB bits from ``mark`` and emit I_PCM instead
    (raw source samples; §8.3.5).  Stamps the constants every later
    neighbour rule reads: TotalCoeff 16, Intra4x4PredMode DC."""
    del w.bits[mark:]
    x0, y0 = mbx * 16, mby * 16
    w.ue(25 + mtype_off)  # mb_type: I_PCM
    w.align_byte()
    luma = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.uint8)
    w.raw_bytes(luma.tobytes())
    st.y[y0 : y0 + 16, x0 : x0 + 16] = luma
    cx0, cy0 = mbx * 8, mby * 8
    for plane, srcp in ((st.u, src_u), (st.v, src_v)):
        blk = srcp[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.uint8)
        w.raw_bytes(blk.tobytes())
        plane[cy0 : cy0 + 8, cx0 : cx0 + 8] = blk
    st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
    for comp in range(2):
        st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2


def _encode_chroma(
    st: _FrameState, mbx: int, mby: int, qp: int,
    src_u: np.ndarray, src_v: np.ndarray,
):
    """Chroma mode decision + transform/quant, shared by the I_16x16
    and I_4x4 macroblock encoders.  ONE mode for both components (the
    spec codes a single intra_chroma_pred_mode), chosen by joint SAD.
    Our PPS writes chroma_qp_index_offset=0."""
    qpc = _QPC[max(0, min(51, qp))]
    avail_l, avail_t, avail_c = _avail_ltc(st, mbx, mby)
    clegal = [C_DC]
    if avail_l:
        clegal.append(C_HORIZONTAL)
    if avail_t:
        clegal.append(C_VERTICAL)
    if avail_l and avail_t and avail_c:
        clegal.append(C_PLANE)
    cx0, cy0 = mbx * 8, mby * 8

    def _joint_sad(m: int) -> int:
        s = 0
        for plane, srcp in ((st.u, src_u), (st.v, src_v)):
            cp = _pred_chroma8(m, plane, mbx, mby, st=st)
            s += int(
                np.abs(
                    srcp[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64) - cp
                ).sum()
            )
        return s

    chroma_mode = min(clegal, key=_joint_sad)
    cres = [
        src[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64)
        - _pred_chroma8(chroma_mode, plane, mbx, mby, st=st)
        for plane, src in ((st.u, src_u), (st.v, src_v))
    ]
    cbp_chroma, cdcq, cacq = _chroma_transform_quant(cres, qpc)
    return chroma_mode, cbp_chroma, cdcq, cacq


def _chroma_transform_quant(
    cres: list[np.ndarray], qpc: int, intra: bool = True
):
    """Two 8x8 chroma residuals → (cbp_chroma, quantized DC grids,
    quantized AC blocks); the transform tail shared by the intra mode
    encoders and the P-slice motion-compensated path."""
    cdcq: list[np.ndarray] = []
    cacq: list[list[np.ndarray]] = []
    for res in cres:
        cdc = np.empty((2, 2), dtype=np.int64)
        cacs = []
        for blk in range(4):
            bx, by = _CHROMA_BLK_XY[blk]
            wblk = fdct4x4(res[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
            cdc[by, bx] = int(wblk[0, 0])
            cacs.append(quant_ac(wblk, qpc, intra=intra, skip_dc=True))
        h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
        cdcq.append(quant_dc(h2 @ cdc @ h2, qp=qpc))
        cacq.append(cacs)
    any_cac = any(np.any(b) for comp in cacq for b in comp)
    any_cdc = any(np.any(d) for d in cdcq)
    cbp_chroma = 2 if any_cac else (1 if any_cdc else 0)
    if cbp_chroma < 2:
        cacq = [[np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
                for _ in range(2)]
    if cbp_chroma == 0:
        cdcq = [np.zeros((2, 2), dtype=np.int64) for _ in range(2)]
    return cbp_chroma, cdcq, cacq


def _write_chroma_residuals(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, cbp_chroma: int,
    cdcq: list[np.ndarray], cacq: list[list[np.ndarray]],
) -> None:
    if cbp_chroma:
        for comp in range(2):
            encode_residual(w, [int(x) for x in cdcq[comp].reshape(4)], -1)
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                bx, by = _CHROMA_BLK_XY[blk]
                abx, aby = mbx * 2 + bx, mby * 2 + by
                nc = st.nc_chroma(comp, abx, aby)
                total = encode_residual(
                    w, _zigzag_list(cacq[comp][blk], skip_dc=True), nc
                )
                st.nc_c[comp][aby, abx] = total
    else:
        for comp in range(2):
            st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0


def _read_chroma_residuals(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, cbp_chroma: int,
):
    cdc = [np.zeros((2, 2), dtype=np.int64) for _ in range(2)]
    cac = [[np.zeros((4, 4), dtype=np.int64) for _ in range(4)]
           for _ in range(2)]
    if cbp_chroma:
        for comp in range(2):
            coeffs, _ = decode_residual(r, -1, 4)
            cdc[comp] = np.array(coeffs, dtype=np.int64).reshape(2, 2)
    if cbp_chroma == 2:
        for comp in range(2):
            for blk in range(4):
                bx, by = _CHROMA_BLK_XY[blk]
                abx, aby = mbx * 2 + bx, mby * 2 + by
                coeffs, total = decode_residual(
                    r, st.nc_chroma(comp, abx, aby), 15
                )
                st.nc_c[comp][aby, abx] = total
                cac[comp][blk] = _unzigzag(coeffs, skip_dc=True)
    else:
        for comp in range(2):
            st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
    return cdc, cac


def _intra_mode_estimate(
    st: _FrameState, mbx: int, mby: int, src_y: np.ndarray,
):
    """Intra-MB mode decision for _encode_mb: the best legal Intra_16x16
    mode by source SAD against closed-loop neighbour predictions, and
    the I_4x4-vs-I_16x16 choice from the open-loop per-block estimate
    (I_4x4 costs ~4+ bits/block of mode signalling, so it must win by
    >20%).  Returns (use_i4, pred_mode, preds, src_blk)."""
    x0, y0 = mbx * 16, mby * 16
    src_blk = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
    avail_l, avail_t, avail_c = _avail_ltc(st, mbx, mby)
    legal = [L16_DC]
    if avail_t:
        legal.append(L16_VERTICAL)
    if avail_l:
        legal.append(L16_HORIZONTAL)
    if avail_l and avail_t and avail_c:
        legal.append(L16_PLANE)
    preds = {m: _pred_luma16(m, st.y, mbx, mby, st=st) for m in legal}
    pred_mode = min(
        legal, key=lambda m: int(np.abs(src_blk - preds[m]).sum())
    )
    i16_sad = int(np.abs(src_blk - preds[pred_mode]).sum())
    i4_est = 0
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        left, top, corner, avail_l, avail_t, avail_c = (
            _fetch_i4_neighbours(src_y, abx, aby, st=st)
        )
        sblk = src_y[aby * 4 : aby * 4 + 4, abx * 4 : abx * 4 + 4].astype(
            np.int64
        )
        i4_est += min(
            int(np.abs(sblk - _pred_i4(m, left, top, corner,
                                       avail_l, avail_t)).sum())
            for m in _i4_legal_modes(avail_l, avail_t, avail_c)
        )
    return i4_est * 5 < i16_sad * 4, pred_mode, preds, src_blk


def _encode_mb(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    mtype_off: int = 0,
) -> None:
    """Intra macroblock encode.  ``mtype_off`` shifts the coded
    mb_type for intra MBs inside P slices (Table 7-13: +5)."""
    x0, y0 = mbx * 16, mby * 16
    mark = len(w.bits)
    use_i4, pred_mode, preds, src_blk = _intra_mode_estimate(
        st, mbx, mby, src_y
    )
    if use_i4:
        _encode_i4_mb(w, st, mbx, mby, qp, src_y, src_u, src_v, mtype_off)
        if len(w.bits) - mark > _PCM_BITS:
            _rollback_to_pcm(
                w, st, mbx, mby, mark, src_y, src_u, src_v, mtype_off
            )
        return
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    pred = preds[pred_mode]
    resid = src_blk - pred
    dc_grid = np.empty((4, 4), dtype=np.int64)
    ac_blocks: list[np.ndarray] = [None] * 16  # type: ignore[list-item]
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        wblk = fdct4x4(resid[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
        dc_grid[by, bx] = int(wblk[0, 0])
        ac_blocks[blk] = quant_ac(wblk, qp, skip_dc=True)
    had = hadamard4x4(dc_grid)
    had = np.sign(had) * (np.abs(had) >> 1)  # forward /2 (see scale math)
    dcq = quant_dc(had, qp)
    cbp_luma = 15 if any(np.any(b) for b in ac_blocks) else 0
    chroma_mode, cbp_chroma, cdcq, cacq = _encode_chroma(
        st, mbx, mby, qp, src_u, src_v
    )
    # ---- syntax: mb_type encodes the luma pred mode + both CBPs
    mb_type = 1 + pred_mode + 4 * cbp_chroma + 12 * (1 if cbp_luma else 0)
    w.ue(mb_type + mtype_off)
    w.ue(chroma_mode)  # intra_chroma_pred_mode
    w.se(0)  # mb_qp_delta
    # ---- residuals (§7.3.5.3.3 block order) + nC bookkeeping
    nc0 = st.nc_luma(mbx * 4, mby * 4)
    encode_residual(w, _zigzag_list(dcq, skip_dc=False), nc0)
    if cbp_luma:
        for blk in range(16):
            bx, by = _LUMA_BLK_XY[blk]
            abx, aby = mbx * 4 + bx, mby * 4 + by
            nc = st.nc_luma(abx, aby)
            total = encode_residual(
                w, _zigzag_list(ac_blocks[blk], skip_dc=True), nc
            )
            st.nc_y[aby, abx] = total
    else:
        st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
    _write_chroma_residuals(w, st, mbx, mby, cbp_chroma, cdcq, cacq)
    # ---- I_PCM fallback (§8.3.5): when the coded MB outgrows the raw
    # representation (the spec's worst-case-size escape), roll the bits
    # back and emit the source samples verbatim — lossless for this MB
    if len(w.bits) - mark > _PCM_BITS:
        _rollback_to_pcm(
            w, st, mbx, mby, mark, src_y, src_u, src_v, mtype_off
        )
        return

    # ---- closed-loop reconstruction through the DECODER path
    _reconstruct_mb(
        st, mbx, mby, qp, dcq,
        [b.copy() for b in ac_blocks] if cbp_luma
        else [np.zeros((4, 4), dtype=np.int64) for _ in range(16)],
        cdcq, cacq,
        pred_mode=pred_mode, chroma_mode=chroma_mode,
    )


def _decode_mb(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, qp: int,
    chroma_qp_offset: int = 0, mb_type: int | None = None,
) -> None:
    """Intra macroblock decode; ``mb_type`` is pre-read (and already
    un-offset by 5) when called from a P slice."""
    if mb_type is None:
        mb_type = r.ue()
    if mb_type == 0:
        _decode_i4_mb(r, st, mbx, mby, qp, chroma_qp_offset)
        return
    if mb_type == 25:  # I_PCM: byte-aligned raw samples (§7.3.5/§8.3.5)
        r.align_byte()
        x0, y0 = mbx * 16, mby * 16
        luma = np.frombuffer(r.read_bytes(256), np.uint8).reshape(16, 16)
        st.y[y0 : y0 + 16, x0 : x0 + 16] = luma
        cx0, cy0 = mbx * 8, mby * 8
        for plane in (st.u, st.v):
            samples = np.frombuffer(r.read_bytes(64), np.uint8)
            plane[cy0 : cy0 + 8, cx0 : cx0 + 8] = samples.reshape(8, 8)
        # neighbours of an I_PCM macroblock see TotalCoeff = 16 (§9.2.1)
        # and Intra4x4PredMode = DC for the MPM rule
        st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
        st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        for comp in range(2):
            st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        return
    if not 1 <= mb_type <= 24:
        raise MediaFormatError("non-intra macroblock in I slice")
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    m = mb_type - 1
    pred_mode = m % 4  # Table 8-3: V / H / DC / Plane all decode
    rem = m // 4
    cbp_chroma = rem if rem < 3 else rem - 3
    cbp_luma = 0 if rem < 3 else 15
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise MediaFormatError("invalid intra_chroma_pred_mode")
    if r.se() != 0:
        raise MediaFormatError("mb_qp_delta outside the fixed-QP subset")
    nc0 = st.nc_luma(mbx * 4, mby * 4)
    dc_coeffs, _ = decode_residual(r, nc0, 16)
    dcq = _unzigzag(dc_coeffs, skip_dc=False)
    ac_blocks = []
    if cbp_luma:
        for blk in range(16):
            bx, by = _LUMA_BLK_XY[blk]
            abx, aby = mbx * 4 + bx, mby * 4 + by
            coeffs, total = decode_residual(r, st.nc_luma(abx, aby), 15)
            st.nc_y[aby, abx] = total
            ac_blocks.append(_unzigzag(coeffs, skip_dc=True))
    else:
        st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        ac_blocks = [np.zeros((4, 4), dtype=np.int64) for _ in range(16)]
    cdc, cac = _read_chroma_residuals(r, st, mbx, mby, cbp_chroma)
    _reconstruct_mb(
        st, mbx, mby, qp, dcq, ac_blocks, cdc, cac, chroma_qp_offset,
        pred_mode=pred_mode, chroma_mode=chroma_mode,
    )


def encode_frame_nal(
    rgb: bytes, width: int, height: int, qp: int = DEFAULT_QP,
    idr_pic_id: int = 0, return_recon: bool = False, deblock: bool = True,
    return_planes: bool = False, poc_type: int = 0,
):
    """One RGB frame → one IDR slice NAL (header byte included).  With
    ``return_recon``: also the encoder's closed-loop reconstruction as
    RGB — by the normative contract this is byte-identical to what any
    conforming decoder outputs, so callers can value-gate decode
    exactness without re-running the encoder internals.  ``deblock``
    (default, the spec-realistic choice) signals the in-loop filter ON
    in the slice header; prediction still reads unfiltered samples, so
    the filter is an output post-pass for all-intra pictures."""
    y, u, v = rgb_to_yuv420(rgb, width, height)
    y, u, v = _pad_plane(y, 16), _pad_plane(u, 8), _pad_plane(v, 8)
    mb_w, mb_h = y.shape[1] // 16, y.shape[0] // 16
    st = _FrameState(mb_w, mb_h)
    w = _BitWriter()
    _write_slice_header(w, qp, DEFAULT_QP, idr_pic_id,
                        log2_max_frame_num=4, poc_type=poc_type,
                        log2_max_poc_lsb=4, deblock=deblock)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            _encode_mb(w, st, mbx, mby, qp, y, u, v)
    nal = b"\x65" + w.finish()  # nal_ref_idc=3, type 5 (IDR)
    if not (return_recon or return_planes):
        return nal
    ry, ru, rv = (
        deblock_frame(st.y, st.u, st.v, qp) if deblock
        else (st.y, st.u, st.v)
    )
    if return_planes:
        return nal, (ry, ru, rv)
    recon = yuv420_to_rgb(
        ry[:height, :width],
        ru[: (height + 1) // 2, : (width + 1) // 2],
        rv[: (height + 1) // 2, : (width + 1) // 2],
    )
    return nal, recon


def _slice_ranges(n_mbs: int, n_slices: int) -> list[tuple[int, int]]:
    """Balanced contiguous [start, end) macroblock ranges."""
    n_slices = max(1, min(n_slices, n_mbs))
    base, extra = divmod(n_mbs, n_slices)
    out, start = [], 0
    for si in range(n_slices):
        end = start + base + (1 if si < extra else 0)
        out.append((start, end))
        start = end
    return out


def encode_h264_multislice(
    width: int, height: int, frames_rgb: list[bytes],
    qp: int = DEFAULT_QP, n_slices: int = 2, return_recon: bool = False,
):
    """Frames → (SPS, PPS, [[slice NALs] per picture][, recon
    frames]): the IPPP chain with every picture coded as ``n_slices``
    contiguous-range slices (round 13).  Each slice re-anchors
    availability — intra prediction, CAVLC nC contexts, MV prediction
    and skip inference all stop at the slice border (§6.4.9) — and
    carries its own mb_skip_run state; the deblocking filter still
    crosses slice borders (disable_deblocking_filter_idc 0), matching
    the decoder's frame-level post-pass."""
    sps = write_h264_sps(width, height, 66, 30)
    pps = write_pps(DEFAULT_QP)
    pictures: list[list[bytes]] = []
    recons = []
    planes = None
    for fi, rgb in enumerate(frames_rgb):
        y, u, v = rgb_to_yuv420(rgb, width, height)
        y, u, v = _pad_plane(y, 16), _pad_plane(u, 8), _pad_plane(v, 8)
        mb_w, mb_h = y.shape[1] // 16, y.shape[0] // 16
        st = _FrameState(mb_w, mb_h)
        st.slice_id[:] = -1
        nals = []
        for si, (start, end) in enumerate(
            _slice_ranges(mb_w * mb_h, n_slices)
        ):
            st.cur_slice = si
            w = _BitWriter()
            _write_slice_header(
                w, qp, DEFAULT_QP, 0, log2_max_frame_num=4,
                poc_type=0, log2_max_poc_lsb=4,
                slice_type="I" if fi == 0 else "P",
                frame_num=fi, first_mb=start,
            )
            skip_run = 0
            for i in range(start, end):
                mbx, mby = i % mb_w, i // mb_w
                st.slice_id[mby, mbx] = si
                if fi == 0:
                    _encode_mb(w, st, mbx, mby, qp, y, u, v)
                else:
                    skip_run = _encode_p_mb(
                        w, st, mbx, mby, qp, y, u, v, planes, skip_run
                    )
            if skip_run:
                w.ue(skip_run)  # trailing skip run ends the slice
            hdr = b"\x65" if fi == 0 else b"\x41"
            nals.append(hdr + w.finish())
        pictures.append(nals)
        planes = deblock_frame(st.y, st.u, st.v, qp, st=st if fi else None)
        recons.append(planes)
    if not return_recon:
        return sps, pps, pictures
    rgb_recons = [
        yuv420_to_rgb(
            y[:height, :width],
            u[: (height + 1) // 2, : (width + 1) // 2],
            v[: (height + 1) // 2, : (width + 1) // 2],
        )
        for y, u, v in recons
    ]
    return sps, pps, pictures, rgb_recons


def slice_first_mb(nal: bytes) -> int:
    """first_mb_in_slice of a coded slice NAL — the picture-boundary
    signal the stream walkers group by (a new picture starts at 0)."""
    r = _BitReader(_unescape_rbsp(nal[1:]))
    return r.ue()


def _decode_i_slice_mbs(
    r: _BitReader, st: _FrameState, qp: int, cqo: int,
    first_mb: int = 0, until_end: bool = False,
) -> int:
    n_mbs = st.mb_w * st.mb_h
    i = first_mb
    while i < n_mbs:
        if until_end and i > first_mb and r.byte_aligned_stop():
            break
        st.slice_id[i // st.mb_w, i % st.mb_w] = st.cur_slice
        _decode_mb(r, st, i % st.mb_w, i // st.mb_w, qp, cqo)
        i += 1
    return i


def decode_frame_nal(
    nal: bytes, sps: dict, pps: dict,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    ref2: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    col_motion: dict | None = None,
    motion_sink: dict | None = None,
    poc_ctx: dict | None = None,
    refs: list | None = None,
    ref_pocs: list | None = None,
    ref_frame_nums: list | None = None,
    ref_motions: list | None = None,
    ref_lts: list | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single slice NAL covering a WHOLE picture → reconstructed
    (Y, U, V) planes (coded size; caller crops) — the one-slice
    special case of decode_picture below."""
    return decode_picture(
        [nal], sps, pps, ref=ref, ref2=ref2,
        col_motion=col_motion, motion_sink=motion_sink,
        ref_frame_nums=ref_frame_nums, ref_motions=ref_motions,
        ref_lts=ref_lts,
        poc_ctx=poc_ctx, refs=refs, ref_pocs=ref_pocs,
    )


class _Dpb:
    """Decoded picture buffer for the stream walkers (round 14):
    parallel lists kept in DEFAULT-LIST order — short-term references
    most-recent-first, then long-term references by ascending
    LongTermFrameIdx — which IS the §8.2.4.2.1 initial P list, so
    decode_picture's default order is the identity.  Marking
    (§8.2.5.4 ops 1/2/3/4/6) and the §8.2.5.3 sliding window (which
    counts against the SPS max_num_ref_frames and only ever evicts
    short-term pictures) both live here, shared by the avcC and
    elementary-stream walkers."""

    __slots__ = ("planes", "motions", "pocs", "fnums", "lts", "max_lt")

    def __init__(self) -> None:
        self.planes: list = []
        self.motions: list = []
        self.pocs: list = []
        self.fnums: list = []
        self.lts: list = []  # None = short-term, int = LongTermFrameIdx
        self.max_lt: int | None = None  # MaxLongTermFrameIdx

    def clear(self) -> None:
        self.__init__()

    def n_short(self) -> int:
        return sum(1 for x in self.lts if x is None)

    def _del(self, j: int) -> None:
        del self.planes[j]
        del self.motions[j]
        del self.pocs[j]
        del self.fnums[j]
        del self.lts[j]

    def _find_short(self, pic_num: int, max_fn: int):
        for j, fn in enumerate(self.fnums):
            if (
                self.lts[j] is None
                and fn is not None
                and fn % max_fn == pic_num
            ):
                return j
        return None

    def _put_long(self, entry: tuple, ltidx: int) -> None:
        # an assignment to an occupied LongTermFrameIdx replaces the
        # previous holder (§8.2.5.4.3)
        for i, lt in enumerate(self.lts):
            if lt == ltidx:
                self._del(i)
                break
        pos = self.n_short()
        while pos < len(self.lts) and self.lts[pos] < ltidx:
            pos += 1
        planes, motion, poc, fnum = entry
        self.planes.insert(pos, planes)
        self.motions.insert(pos, motion)
        self.pocs.insert(pos, poc)
        self.fnums.insert(pos, fnum)
        self.lts.insert(pos, ltidx)

    def apply_marking(self, mmco, cur_fn: int, max_fn: int):
        """§8.2.5.4 ops in signalled order; returns (cur_lt, reset5):
        the CURRENT picture's LongTermFrameIdx when an op 6 assigned
        one, and whether an op 5 reset fired — the caller then stores
        the current picture with frame_num/POC 0 and resets its POC
        context (§8.2.1: prev values become 0 for what follows)."""
        cur_lt = None
        reset5 = False
        for op in mmco or ():
            kind = op[0]
            if kind == 5:
                # §8.2.5.4.5: all references unused; long-term index
                # space closes (a following MMCO 6 needs its own
                # MMCO 4 to reopen it)
                self.clear()
                reset5 = True
                continue
            if kind == 1:
                j = self._find_short((cur_fn - (op[1] + 1)) % max_fn,
                                     max_fn)
                if j is None:
                    raise MediaFormatError(
                        "MMCO 1 names a picture not in the DPB"
                    )
                self._del(j)
            elif kind == 2:
                j = next(
                    (i for i, lt in enumerate(self.lts) if lt == op[1]),
                    None,
                )
                if j is None:
                    raise MediaFormatError(
                        "MMCO 2 names a long-term picture not in the DPB"
                    )
                self._del(j)
            elif kind == 3:
                if self.max_lt is None or op[2] > self.max_lt:
                    raise MediaFormatError(
                        "long-term frame index beyond MaxLongTermFrameIdx"
                    )
                j = self._find_short((cur_fn - (op[1] + 1)) % max_fn,
                                     max_fn)
                if j is None:
                    raise MediaFormatError(
                        "MMCO 3 names a picture not in the DPB"
                    )
                entry = (self.planes[j], self.motions[j],
                         self.pocs[j], self.fnums[j])
                self._del(j)
                self._put_long(entry, op[2])
            elif kind == 4:
                self.max_lt = op[1] - 1 if op[1] > 0 else None
                for i in reversed(range(len(self.lts))):
                    if self.lts[i] is not None and (
                        self.max_lt is None or self.lts[i] > self.max_lt
                    ):
                        self._del(i)
            elif kind == 6:
                if self.max_lt is None or op[1] > self.max_lt:
                    raise MediaFormatError(
                        "long-term frame index beyond MaxLongTermFrameIdx"
                    )
                cur_lt = op[1]
        return cur_lt, reset5

    def insert_current(
        self, planes, motion, poc, fnum, lt, num_ref_frames: int,
    ) -> None:
        """Store the current reference picture: §8.2.5.3 sliding
        window first (evicts the OLDEST short-term while the buffer
        is at capacity — long-term pictures never slide), then the
        insert that keeps the default-list order invariant."""
        cap = max(1, min(int(num_ref_frames or 1), 16))
        if lt is not None:
            self._put_long((planes, motion, poc, fnum), lt)
            if len(self.planes) > cap:
                raise MediaFormatError(
                    "DPB overfull with long-term references"
                )
            return
        while len(self.planes) >= cap:
            ns = self.n_short()
            if ns == 0:
                raise MediaFormatError(
                    "DPB overfull with long-term references"
                )
            self._del(ns - 1)  # oldest short-term
        self.planes.insert(0, planes)
        self.motions.insert(0, motion)
        self.pocs.insert(0, poc)
        self.fnums.insert(0, fnum)
        self.lts.insert(0, None)

    def decode(self, nals: list[bytes], sps: dict, pps: dict,
               poc_ctx: dict):
        """Decode the slice NALs of ONE picture against this DPB and
        apply its marking: an IDR empties the buffer first (§8.2.5.1),
        a reference picture enters it afterwards.  ``poc_ctx`` is the
        walker's POC state (low-delay monotonicity + full unwrap).
        Returns the (Y, U, V) planes at coded size."""
        nal = nals[0]
        if (nal[0] & 0x1F) == 5:
            self.clear()
        sink: dict = {}
        refs = self.planes
        planes = decode_picture(
            nals, sps, pps,
            ref=refs[0] if refs else None,
            ref2=refs[1] if len(refs) > 1 else None,
            col_motion=self.motions[1] if len(refs) > 1 else None,
            motion_sink=sink,
            poc_ctx=poc_ctx,
            refs=refs if len(refs) > 1 else None,
            ref_pocs=(
                self.pocs
                if refs and all(p is not None for p in self.pocs)
                else None
            ),
            ref_frame_nums=self.fnums if refs else None,
            ref_motions=self.motions if refs else None,
            ref_lts=self.lts if refs else None,
        )
        if nal[0] >> 5:  # reference picture → enters the DPB
            cur_lt, reset5 = self.apply_marking(
                sink.get("mmco"), sink.get("frame_num", 0),
                1 << sps["log2_max_frame_num"],
            )
            if (nal[0] & 0x1F) == 5 and sink.get("idr_longterm"):
                self.max_lt = 0  # §8.2.5.1: IDR long-term → idx 0
                cur_lt = 0
            poc_in = sink.get("poc")
            fnum_in = sink.get("frame_num")
            if reset5:
                # the current picture IS the new origin (§8.2.1)
                poc_in, fnum_in = 0, 0
                poc_ctx.clear()
                poc_ctx.update(
                    {"poc": 0, "poc_full": 0, "prev_frame_num": 0,
                     "frame_num_offset": 0}
                )
            self.insert_current(
                planes, sink or None, poc_in, fnum_in, cur_lt,
                sps.get("max_num_ref_frames", 16),
            )
        return planes


def _cropped_rgb(planes, sps: dict) -> bytes:
    """Coded-size (Y, U, V) planes → the SPS-cropped RGB frame."""
    y, u, v = planes
    w, h = sps["width"], sps["height"]
    ct, cl = sps["crop_t"], sps["crop_l"]
    return yuv420_to_rgb(
        y[ct : ct + h, cl : cl + w],
        u[ct // 2 : ct // 2 + (h + 1) // 2,
          cl // 2 : cl // 2 + (w + 1) // 2],
        v[ct // 2 : ct // 2 + (h + 1) // 2,
          cl // 2 : cl // 2 + (w + 1) // 2],
    )


def _ref_list_order(
    n_avail: int,
    rplm: list | None,
    cur_fn: int,
    ref_fnums: list,
    max_fn: int,
    num_active: int,
    default: list | None = None,
    ref_lts: list | None = None,
) -> list[int]:
    """§8.2.4.3.1 short-term reference list modification over a
    recency-ordered DPB (round 14).  ``default`` is the initial index
    order (identity = recency = PicNum-descending for the low-delay
    subset; B-L1 passes the §8.2.4.2.3 swapped order).  Each RPLM op
    derives picNumLX from the running predictor, finds the DPB entry
    whose FrameNum matches it mod MaxFrameNum (entries live within
    one wrap window, so the modular compare is exact), inserts it at
    the next index and drops the later duplicate.  Returns
    ``num_active`` indices into the DPB."""
    order = list(default) if default is not None else list(range(n_avail))
    lst = order[:num_active]
    if len(lst) < num_active:
        raise MediaFormatError(
            "num_ref_idx_active exceeds the decoded DPB depth"
        )
    if not rplm:
        return lst
    pred = cur_fn
    next_i = 0
    for idc, val in rplm:
        target = None
        if idc == 2:
            # long_term_pic_num selection (round-14 long-term support)
            if ref_lts is None:
                raise MediaFormatError(
                    "long-term selection without a tracked DPB"
                )
            for j in range(n_avail):
                if ref_lts[j] is not None and ref_lts[j] == val:
                    target = j
                    break
        else:
            if idc == 0:
                pred -= val + 1
                if pred < 0:
                    pred += max_fn
            else:
                pred += val + 1
                if pred >= max_fn:
                    pred -= max_fn
            for j in range(n_avail):
                if (
                    (ref_lts is None or ref_lts[j] is None)
                    and ref_fnums[j] is not None
                    and ref_fnums[j] % max_fn == pred
                ):
                    target = j
                    break
        if target is None:
            raise MediaFormatError(
                "ref list modification names a picture not in the DPB"
            )
        if next_i >= num_active:
            raise MediaFormatError(
                "ref list modification longer than the active list"
            )
        lst = (
            lst[:next_i]
            + [target]
            + [x for x in lst[next_i:] if x != target]
        )[:num_active]
        next_i += 1
    return lst


def decode_picture(
    nals: list[bytes], sps: dict, pps: dict,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    ref2: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    col_motion: dict | None = None,
    motion_sink: dict | None = None,
    poc_ctx: dict | None = None,
    refs: list | None = None,
    ref_pocs: list | None = None,
    ref_frame_nums: list | None = None,
    ref_motions: list | None = None,
    ref_lts: list | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The slice NALs of ONE picture (contiguous first_mb ranges, in
    order) → reconstructed (Y, U, V) planes.  IDR slices decode
    standalone; P slices require ``ref`` — the most recent REFERENCE
    picture's output planes; B slices additionally require ``ref2`` —
    the previous reference (L1[0] under the default-list swap) — and
    use ``col_motion`` (that same picture's motion snapshot) for
    direct prediction.  Callers tracking a DPB pass ``motion_sink``
    on REFERENCE pictures to capture the motion state the next B
    picture's direct derivation reads, and a shared ``poc_ctx`` so
    _parse_slice_header can reject display-reordered (non-low-delay)
    streams.

    MULTI-SLICE pictures (round 13): each slice carries its own QP
    and skip runs; neighbour availability stops at the slice border
    (§6.4.9 — the per-MB slice grid gates intra prediction, CAVLC nC
    and MV prediction alike); slices must share the slice type and
    deblock settings (subset bound), tile the picture exactly, and
    agree on pic_order_cnt_lsb."""
    if not nals or not nals[0]:
        raise MediaFormatError("empty NAL")
    nal_type = nals[0][0] & 0x1F
    if any((n[0] & 0x1F) != nal_type for n in nals):
        raise MediaFormatError("mixed NAL types within one picture")
    if nal_type not in (1, 5):
        raise MediaFormatError(f"unexpected NAL type {nal_type} for slice")
    st = _FrameState(sps["mb_w"], sps["mb_h"])
    if len(nals) > 1:
        st.slice_id[:] = -1  # nothing decoded yet
    cqo = pps.get("chroma_qp_index_offset", 0)
    n_mbs = sps["mb_w"] * sps["mb_h"]
    expected = 0
    pic = None  # (stype, deblock, a_off, b_off, qp)
    hinfo = None
    for si, nal in enumerate(nals):
        r = _BitReader(_unescape_rbsp(nal[1:]))
        stype, qp, deblock, a_off, b_off, hinfo = _parse_slice_header(
            r, sps, pps, idr=nal_type == 5, nal_ref_idc=nal[0] >> 5,
            poc_ctx=poc_ctx if si == 0 else None,
        )
        if si == 0:
            pic = (stype, deblock, a_off, b_off, qp)
            ref_hdr = (hinfo["frame_num"], hinfo["rplm_l0"],
                       hinfo["rplm_l1"], hinfo["mmco"],
                       hinfo.get("idr_longterm"))
            poc_full = hinfo["poc"]
            # type-0 streams compare later slices' raw lsb; types 1/2
            # have no per-slice POC syntax — frame_num equality (the
            # ref_hdr check below) is the §7.4.3 constraint there
            lsb0 = (
                poc_ctx.get("poc") if poc_ctx is not None else hinfo["poc"]
            )
        else:
            if hinfo["poc"] is not None and hinfo["poc"] != lsb0:
                raise MediaFormatError(
                    "slices of one picture disagree on "
                    "pic_order_cnt_lsb"
                )
            if (stype, deblock, a_off, b_off, qp) != pic:
                # per-slice QP is legal H.264, but the §8.7 filter
                # thresholds here are per-picture — refuse rather than
                # filter with the wrong QP
                raise MediaFormatError(
                    "slices of one picture disagree on type, QP or "
                    "deblock settings"
                )
            if (hinfo["frame_num"], hinfo["rplm_l0"], hinfo["rplm_l1"],
                    hinfo["mmco"], hinfo.get("idr_longterm")) != ref_hdr:
                raise MediaFormatError(
                    "slices of one picture disagree on reference "
                    "handling (frame_num / RPLM / MMCO)"
                )
            hinfo["poc"] = poc_full  # later slices parsed without ctx
        if hinfo["first_mb"] != expected:
            raise MediaFormatError(
                "slice does not tile the picture (first_mb gap or "
                "overlap)"
            )
        st.cur_slice = si
        until_end = len(nals) > 1
        if stype == "P":
            l0 = refs if refs is not None else (
                [ref] if ref is not None else []
            )
            if not l0:
                raise MediaFormatError(
                    "P slice without a decoded reference picture"
                )
            n_ref = hinfo["num_ref_l0"]
            if n_ref > len(l0):
                raise MediaFormatError(
                    "num_ref_idx_active exceeds the decoded DPB depth"
                )
            pocs_l0 = list(ref_pocs[:n_ref]) if ref_pocs is not None else None
            if hinfo["rplm_l0"]:
                # §8.2.4.3 modified RefPicList0 (round 14) — needs the
                # walker-tracked DPB FrameNums to resolve picNums
                if ref_frame_nums is None:
                    raise MediaFormatError(
                        "reference list modification without a tracked "
                        "DPB (raw single-reference path)"
                    )
                order = _ref_list_order(
                    len(l0), hinfo["rplm_l0"], hinfo["frame_num"],
                    ref_frame_nums, 1 << sps["log2_max_frame_num"],
                    n_ref, ref_lts=ref_lts,
                )
                l0 = [l0[i] for i in order]
                if ref_pocs is not None:
                    pocs_l0 = [ref_pocs[i] for i in order]
            if pocs_l0 is not None:
                st.l0_pocs = tuple(pocs_l0)
            expected = _decode_p_slice_mbs(
                r, st, qp, cqo, l0[0],
                refs=l0[:n_ref] if n_ref > 1 else None, n_ref=n_ref,
                wp=hinfo.get("wp"),
                first_mb=expected, until_end=until_end,
            )
        elif stype == "B":
            l0 = refs if refs is not None else (
                [ref, ref2]
                if ref is not None and ref2 is not None else []
            )
            if len(l0) < 2:
                raise MediaFormatError(
                    "B slice without two decoded reference pictures"
                )
            if (
                hinfo["num_ref_l0"] > len(l0)
                or hinfo["num_ref_l1"] > len(l0)
            ):
                raise MediaFormatError(
                    "num_ref_idx_active exceeds the decoded DPB depth"
                )
            if hinfo["rplm_l0"] or hinfo["rplm_l1"]:
                # §8.2.4.3 modified B lists (round 14): each list gets
                # the shared short-term modification routine over its
                # §8.2.4.2.3 default order; RefPicList1[0]'s motion
                # snapshot (direct modes) must follow the modified
                # list, so the full walker-tracked DPB is required
                if ref_frame_nums is None or ref_motions is None:
                    raise MediaFormatError(
                        "reference list modification without a tracked "
                        "DPB (raw single-reference path)"
                    )
                max_fn = 1 << sps["log2_max_frame_num"]
                n0, n1 = hinfo["num_ref_l0"], hinfo["num_ref_l1"]
                default1 = (
                    [1, 0] + list(range(2, len(l0)))
                    if len(l0) > 1
                    else [0]
                )
                ord0 = _ref_list_order(
                    len(l0), hinfo["rplm_l0"], hinfo["frame_num"],
                    ref_frame_nums, max_fn, n0, ref_lts=ref_lts,
                )
                ord1 = _ref_list_order(
                    len(l0), hinfo["rplm_l1"], hinfo["frame_num"],
                    ref_frame_nums, max_fn, n1,
                    default=default1, ref_lts=ref_lts,
                )
                pocs = (
                    list(ref_pocs[: len(l0)])
                    if ref_pocs is not None
                    else None
                )
                ctx = {
                    "l0": [l0[i] for i in ord0],
                    "l1": [l0[i] for i in ord1],
                    "n_ref_l0": n0,
                    "n_ref_l1": n1,
                    "direct_spatial": hinfo["direct_spatial"],
                    "col": (
                        ref_motions[ord1[0]]
                        if ord1[0] < len(ref_motions)
                        else None
                    ),
                    "l0_pocs": (
                        tuple(pocs[i] for i in ord0)
                        if pocs is not None
                        else None
                    ),
                    "l1_pocs": (
                        tuple(pocs[i] for i in ord1)
                        if pocs is not None
                        else None
                    ),
                    # long-term flags follow the modified lists
                    # (round 14 — the direct-mode long-term branches)
                    "l0_lts": (
                        tuple(ref_lts[i] for i in ord0)
                        if ref_lts is not None
                        else None
                    ),
                    "l1_lts": (
                        tuple(ref_lts[i] for i in ord1)
                        if ref_lts is not None
                        else None
                    ),
                    "poc": hinfo["poc"],
                    "wp": hinfo.get("wpb"),
                }
            else:
                ctx = _b_ctx(
                    l0, direct_spatial=hinfo["direct_spatial"],
                    col=col_motion,
                    l0_pocs=(
                        ref_pocs[: len(l0)] if ref_pocs is not None else None
                    ),
                    poc=hinfo["poc"],
                    n_ref_l0=hinfo["num_ref_l0"],
                    n_ref_l1=hinfo["num_ref_l1"],
                    ref_lts=(
                        ref_lts[: len(l0)] if ref_lts is not None else None
                    ),
                    wpb=hinfo.get("wpb"),
                )
            if ctx["l0_pocs"] is not None:
                st.l0_pocs = ctx["l0_pocs"]
                st.l1_pocs = ctx["l1_pocs"]
            _implicit_wp_table(ctx)  # no-op unless idc 2 (round 16)
            expected = _decode_b_slice_mbs(
                r, st, qp, cqo, ctx,
                first_mb=expected, until_end=until_end,
            )
        else:
            expected = _decode_i_slice_mbs(
                r, st, qp, cqo, first_mb=expected, until_end=until_end,
            )
        if not r.byte_aligned_stop():
            raise MediaFormatError("trailing bits after last macroblock")
    if expected != n_mbs:
        raise MediaFormatError("slices do not cover the whole picture")
    stype, deblock, a_off, b_off, qp = pic
    if motion_sink is not None:
        motion_sink.update(_motion_snapshot(st))
        motion_sink["poc"] = hinfo["poc"]
        # round 14: the walkers' DPB bookkeeping needs the picture's
        # frame_num (PicNum arithmetic) and its MMCO ops (applied to
        # the DPB when this reference enters it)
        motion_sink["frame_num"] = hinfo["frame_num"]
        motion_sink["mmco"] = hinfo["mmco"]
        motion_sink["idr_longterm"] = hinfo.get("idr_longterm", False)
        if st.l0_pocs is None and ref_pocs is not None:
            # single-ref P: L0 = [refs[0]] — temporal direct still
            # needs to know which PICTURE that is
            motion_sink["l0_pocs"] = (ref_pocs[0],)
    if deblock:
        # output post-pass only: intra prediction above already read
        # the unfiltered samples, per §8.7 / §8.3.1.  P pictures use
        # the §8.7.2.1 per-edge strengths from the frame state; the
        # FILTERED picture is what callers store as the next reference
        # (filtering crosses slice borders — idc 0; idc 2 would skip
        # them and quarantines for multi-slice pictures in the header
        # consistency check above only if settings differ, so the
        # encoder subset never emits it)
        return deblock_frame(
            st.y, st.u, st.v, qp, cqo, a_off, b_off,
            st=st if stype in ("P", "B") else None,
        )
    return st.y, st.u, st.v


def encode_h264_intra(
    width: int, height: int, frames_rgb: list[bytes], qp: int = DEFAULT_QP,
    return_recon: bool = False, deblock: bool = True,
):
    """Frames → (SPS NAL, PPS NAL, one IDR slice NAL per frame[,
    closed-loop reconstruction frames when ``return_recon``])."""
    sps = write_h264_sps(width, height, 66, 30)
    pps = write_pps(DEFAULT_QP)
    nals, recons = [], []
    for i, f in enumerate(frames_rgb):
        out = encode_frame_nal(
            f, width, height, qp, idr_pic_id=i % 2,
            return_recon=return_recon, deblock=deblock,
        )
        if return_recon:
            nals.append(out[0])
            recons.append(out[1])
        else:
            nals.append(out)
    if return_recon:
        return sps, pps, nals, recons
    return sps, pps, nals


def decode_h264_intra(
    sps_nal: bytes, pps_nal: bytes, slice_nals: list[bytes]
) -> tuple[int, int, list[bytes]]:
    """(SPS, PPS, slices) → (width, height, RGB frames).  Raises
    MediaFormatError for anything outside the intra subset."""
    sps = _parse_sps_slice_fields(sps_nal)
    pps = parse_pps(pps_nal)
    w, h = sps["width"], sps["height"]
    frames = []
    for nal in slice_nals:
        y, u, v = decode_frame_nal(nal, sps, pps)
        ct, cl = sps["crop_t"], sps["crop_l"]
        yc = y[ct : ct + h, cl : cl + w]
        uc = u[ct // 2 : ct // 2 + (h + 1) // 2, cl // 2 : cl // 2 + (w + 1) // 2]
        vc = v[ct // 2 : ct // 2 + (h + 1) // 2, cl // 2 : cl // 2 + (w + 1) // 2]
        frames.append(yuv420_to_rgb(yc, uc, vc))
    return w, h, frames


# ---------------------------------------------------------------------------
# container seam: avcC-configured, length-prefixed samples (mp4 / mkv)
# ---------------------------------------------------------------------------


def avcc_parameter_sets(body: bytes) -> tuple[bytes, bytes | None, int]:
    """avcC record → (first SPS NAL, first PPS NAL or None,
    NAL length-prefix size in bytes)."""
    if len(body) < 8 or body[0] != 1:
        raise MediaFormatError("malformed avcC record")
    length_size = (body[4] & 3) + 1
    n_sps = body[5] & 0x1F
    if n_sps < 1:
        raise MediaFormatError("avcC carries no SPS")
    pos = 6
    sps = None
    for _ in range(n_sps):
        ln = struct.unpack_from(">H", body, pos)[0]
        nal = body[pos + 2 : pos + 2 + ln]
        if len(nal) < ln:
            raise MediaFormatError("truncated avcC SPS")
        if sps is None:
            sps = nal
        pos += 2 + ln
    pps = None
    if pos < len(body):
        n_pps = body[pos]
        pos += 1
        for _ in range(n_pps):
            if pos + 2 > len(body):
                raise MediaFormatError("truncated avcC PPS")
            ln = struct.unpack_from(">H", body, pos)[0]
            nal = body[pos + 2 : pos + 2 + ln]
            if len(nal) < ln:
                raise MediaFormatError("truncated avcC PPS")
            if pps is None:
                pps = nal
            pos += 2 + ln
    return sps, pps, length_size


def split_sample_nals(sample: bytes, length_size: int) -> list[bytes]:
    """Length-prefixed sample payload → NAL units (ISO 14496-15)."""
    nals, pos = [], 0
    while pos < len(sample):
        if pos + length_size > len(sample):
            raise MediaFormatError("truncated NAL length prefix")
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if ln == 0 or pos + ln > len(sample):
            raise MediaFormatError("NAL length exceeds sample")
        nals.append(sample[pos : pos + ln])
        pos += ln
    if not nals:
        raise MediaFormatError("sample carries no NAL units")
    return nals


def decode_avcc_samples(
    avcc_body: bytes, samples: list[bytes]
) -> tuple[int, int, list[bytes]]:
    """avcC config + length-prefixed samples → (w, h, RGB frames).
    One frame per sample; in-band SPS/PPS override the config; SEI/AUD
    skip; anything outside the subset (CABAC included) raises
    MediaFormatError."""
    sps_nal, pps_nal, length_size = avcc_parameter_sets(avcc_body)
    if pps_nal is None:
        raise MediaFormatError("avcC carries no PPS")
    sps = _parse_sps_slice_fields(sps_nal)
    pps = parse_pps(pps_nal)
    w, h = sps["width"], sps["height"]
    frames = []
    dpb = _Dpb()  # §8.2.5 DPB: shorts recency-first, longs by index
    poc_ctx: dict = {}  # low-delay POC monotonicity + full unwrap
    for sample in samples:
        nals = split_sample_nals(sample, length_size)
        slice_nals_au: list[bytes] = []
        for nal in nals:
            t = nal[0] & 0x1F
            if t == 7:
                new_sps = _parse_sps_slice_fields(nal)
                if (new_sps["width"], new_sps["height"]) != (w, h):
                    # frames after this point would have a different
                    # byte size than the (w, h) this function returns —
                    # reject rather than emit inconsistent frames
                    raise MediaFormatError(
                        "in-band SPS changes picture dimensions"
                    )
                sps = new_sps
            elif t == 8:
                pps = parse_pps(nal)
            elif t in (6, 9):
                continue  # SEI / AUD
            elif t in (1, 5):
                # one sample = one access unit: its slice NALs (one
                # or SEVERAL — multi-slice pictures, round 13) decode
                # together after the in-band parameter sets resolve
                slice_nals_au.append(nal)
            else:
                raise MediaFormatError(f"unsupported NAL type {t} in sample")
        if not slice_nals_au:
            raise MediaFormatError("sample carries no coded slice")
        frames.append(
            _cropped_rgb(dpb.decode(slice_nals_au, sps, pps, poc_ctx), sps)
        )
    return w, h, frames


def encode_avcc_samples(
    width: int, height: int, frames_rgb: list[bytes], qp: int = DEFAULT_QP,
    gop: str = "all-intra",
) -> tuple[bytes, list[bytes]]:
    """Frames → (avcC record body, one length-prefixed sample per
    picture) — the container-side encoder seam (mp4 stsd / mkv
    CodecPrivate both carry avcC)."""
    from reindexer_spark.codecs import build_avcc

    sps, pps, pics, _recon = encode_gop(width, height, frames_rgb, qp, gop)
    samples = [
        b"".join(len(n).to_bytes(4, "big") + n for n in pic)
        for pic in pics
    ]
    return build_avcc(sps, pps), samples


# ---------------------------------------------------------------------------
# Annex-B elementary streams (raw .h264 dumps — no container timing)
# ---------------------------------------------------------------------------


def split_annexb(data: bytes) -> list[bytes]:
    """Start-code-delimited stream → NAL units (ITU-T Annex B: 3- or
    4-byte start codes, leading_zero_8bits tolerated)."""
    nals = []
    i, n = 0, len(data)
    # find the first start code
    while i + 3 <= n and data[i : i + 3] != b"\x00\x00\x01":
        if data[i] != 0:
            raise MediaFormatError("not an Annex-B stream")
        i += 1
    starts = []
    while i + 3 <= n:
        if data[i : i + 3] == b"\x00\x00\x01":
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise MediaFormatError("Annex-B stream carries no NAL units")
    for k, s in enumerate(starts):
        e = starts[k + 1] - 3 if k + 1 < len(starts) else n
        # trailing zeros before the next start code belong to no NAL
        while e > s and data[e - 1] == 0:
            e -= 1
        if e <= s:
            raise MediaFormatError("empty NAL unit in Annex-B stream")
        nals.append(data[s:e])
    return nals


def encode_h264_annexb(
    width: int, height: int, frames_rgb: list[bytes], qp: int = DEFAULT_QP,
    gop: str = "all-intra",
) -> bytes:
    """Frames → a raw Annex-B elementary stream (SPS, PPS, then every
    slice NAL of every picture, 4-byte start codes) for the
    ``GOPS`` chain named by ``gop``."""
    sps, pps, pics, _recon = encode_gop(width, height, frames_rgb, qp, gop)
    sc = b"\x00\x00\x00\x01"
    return sc + sps + sc + pps + b"".join(
        sc + n for pic in pics for n in pic
    )


def probe_annexb(data: bytes) -> dict:
    """Headers-only probe of an Annex-B stream: SPS metadata + coded
    slice count (no entropy decoding — the NAL walk reads type bytes)."""
    sps_meta = None
    n_slices = 0
    for nal in split_annexb(data):
        t = nal[0] & 0x1F
        if t == 7 and sps_meta is None:
            sps_meta = parse_h264_sps(nal)
        elif t in (1, 5):
            n_slices += 1
    if sps_meta is None:
        raise MediaFormatError("Annex-B stream carries no SPS")
    sps_meta["n_frames"] = n_slices
    return sps_meta


def decode_h264_annexb_stream(data: bytes) -> tuple[int, int, list[bytes]]:
    """Annex-B stream → (w, h, RGB frames); same subset and quarantine
    contract as the container paths.  Consecutive slices form one
    picture until a slice with first_mb_in_slice 0 (multi-slice
    pictures) or a non-slice NAL starts the next."""
    sps = pps = None
    frames = []
    w = h = None
    dpb = _Dpb()
    poc_ctx: dict = {}
    au: list[bytes] = []  # the slice NALs of the current picture

    def flush() -> None:
        if au:
            planes = dpb.decode(au, sps, pps, poc_ctx)
            frames.append(_cropped_rgb(planes, sps))
            au.clear()

    for nal in split_annexb(data):
        t = nal[0] & 0x1F
        if t in (1, 5):
            if sps is None or pps is None:
                raise MediaFormatError("slice before SPS/PPS in stream")
            if slice_first_mb(nal) == 0:
                flush()
            au.append(nal)
            continue
        flush()
        if t == 7:
            new_sps = _parse_sps_slice_fields(nal)
            if w is not None and (new_sps["width"], new_sps["height"]) != (w, h):
                raise MediaFormatError("in-band SPS changes picture dimensions")
            sps = new_sps
            w, h = sps["width"], sps["height"]
        elif t == 8:
            pps = parse_pps(nal)
        elif t not in (6, 9):  # SEI / AUD skip
            raise MediaFormatError(f"unsupported NAL type {t} in stream")
    flush()
    if not frames:
        raise MediaFormatError("Annex-B stream carries no coded frames")
    return w, h, frames


# ---------------------------------------------------------------------------
# §8.7 deblocking filter (intra pictures)
#
# Intra prediction reads UNFILTERED reconstructed samples, so for an
# all-intra picture deblocking is a pure output post-pass: decode (or
# closed-loop-encode) the whole frame, then filter.  Boundary
# strengths for intra frames are fixed by geometry — 4 on macroblock
# edges, 3 on internal transform edges — and the α/β/tC0 thresholds
# come from the published Table 8-16/8-17 (shared encoder/decoder
# constants; spot values pinned in tests).
# ---------------------------------------------------------------------------

_DB_ALPHA = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28,
    32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144,
    162, 182, 203, 226, 255, 255,
)
_DB_BETA = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15,
    16, 16, 17, 17, 18, 18,
)
# tC0 rows by bS-1 (bS 1..3), 52 indexA entries each
_DB_TC0 = (
    (0,) * 17 + (0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2,
                 2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13),
    (0,) * 17 + (0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2,
                 2, 3, 3, 3, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11, 12, 13, 15, 17),
    (0,) * 17 + (1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3,
                 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13, 14, 16, 18, 20, 23, 25),
)
assert all(len(t) == 52 for t in (_DB_ALPHA, _DB_BETA, *_DB_TC0))


def _clip1(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _filter_edge_line(p: list[int], q: list[int], bs: int, idx_a: int,
                      idx_b: int, is_luma: bool):
    """One line across an edge: p = [p0..p3] (left/above side, p0
    nearest the edge), q = [q0..q3].  Returns updated (p, q) or None
    when the filterSampleFlag gate rejects."""
    alpha, beta = _DB_ALPHA[idx_a], _DB_BETA[idx_b]
    p0, p1, p2 = p[0], p[1], p[2]
    q0, q1, q2 = q[0], q[1], q[2]
    if not (abs(p0 - q0) < alpha and abs(p1 - p0) < beta
            and abs(q1 - q0) < beta):
        return None
    p, q = list(p), list(q)
    if bs == 4:
        strong = abs(p0 - q0) < (alpha >> 2) + 2
        if is_luma and strong and abs(p2 - p0) < beta:
            p3 = p[3]
            p[0] = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
            p[1] = (p2 + p1 + p0 + q0 + 2) >> 2
            p[2] = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
        else:
            p[0] = (2 * p1 + p0 + q1 + 2) >> 2
        if is_luma and strong and abs(q2 - q0) < beta:
            q3 = q[3]
            q[0] = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
            q[1] = (q2 + q1 + q0 + p0 + 2) >> 2
            q[2] = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
        else:
            q[0] = (2 * q1 + q0 + p1 + 2) >> 2
        return p, q
    tc0 = _DB_TC0[bs - 1][idx_a]
    ap, aq = abs(p2 - p0), abs(q2 - q0)
    if is_luma:
        tc = tc0 + (1 if ap < beta else 0) + (1 if aq < beta else 0)
    else:
        tc = tc0 + 1
    delta = (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3
    delta = max(-tc, min(tc, delta))
    p[0] = _clip1(p0 + delta)
    q[0] = _clip1(q0 - delta)
    if is_luma and ap < beta:
        d = (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1
        p[1] = p1 + max(-tc0, min(tc0, d))
    if is_luma and aq < beta:
        d = (q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1
        q[1] = q1 + max(-tc0, min(tc0, d))
    return p, q


def _intra_bs_grids(mb_w: int, mb_h: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed all-intra boundary strengths: 4 on macroblock edges, 3 on
    internal transform edges (both members of every edge are intra)."""
    bs_v = np.full((mb_h * 4, mb_w * 4), 3, dtype=np.int32)
    bs_h = np.full((mb_h * 4, mb_w * 4), 3, dtype=np.int32)
    bs_v[:, ::4] = 4
    bs_h[::4, :] = 4
    return bs_v, bs_h


def _inter_bs_grids(st: _FrameState) -> tuple[np.ndarray, np.ndarray]:
    """§8.7.2.1 boundary strengths for a P picture, per 4x4-block edge
    (single reference list, frame coding): either side intra → 4 on MB
    edges / 3 inside; else either side carries coefficients → 2; else
    an MV component differs by ≥ 4 quarter-pel units → 1; else 0 (the
    segment is not filtered).  bs_v[by, bx] is the VERTICAL edge on the
    left of block (bx, by); bs_h the HORIZONTAL edge above it."""
    bh, bw = st.nc_y.shape
    bs_v = np.zeros((bh, bw), dtype=np.int32)
    bs_h = np.zeros((bh, bw), dtype=np.int32)

    def pics(bx, by):
        """The (picture, mv) pairs one side of an edge predicts from.
        Pictures are identified by full POC when the slice walk set
        the list POCs (multi-ref / temporal chains) and by (list,
        refIdx) otherwise — identical partitioning for the refIdx-0
        subsets, so the pre-round-13 fixtures filter byte-identically."""
        out = []
        if st.uses0[by, bx]:
            ri = int(st.ref0[by, bx])
            pid = (
                ("poc", st.l0_pocs[ri])
                if st.l0_pocs is not None else ("l0", ri)
            )
            out.append((pid, (int(st.mv[by, bx, 0]),
                              int(st.mv[by, bx, 1]))))
        if st.uses1[by, bx]:
            ri = int(st.ref1[by, bx])
            pid = (
                ("poc", st.l1_pocs[ri])
                if st.l1_pocs is not None else ("l1", ri)
            )
            out.append((pid, (int(st.mv1[by, bx, 0]),
                              int(st.mv1[by, bx, 1]))))
        return out

    def mv_far(m0, m1):
        return abs(m0[0] - m1[0]) >= 4 or abs(m0[1] - m1[1]) >= 4

    def bs(pbx, pby, qbx, qby, mb_edge):
        p_intra = not st.inter[pby, pbx]
        q_intra = not st.inter[qby, qbx]
        if p_intra or q_intra:
            return 4 if mb_edge else 3
        if st.nc_y[pby, pbx] or st.nc_y[qby, qbx]:
            return 2
        # §8.7.2.1 motion rules (round 13: reference-PICTURE identity,
        # not list/index identity): bS 1 unless both sides predict
        # from the same picture set AND some pairing of same-picture
        # predictions keeps every MV component difference < 4
        # quarter-pel units.  For single-list refIdx-0 P pictures this
        # reduces to the classic single-MV rule.
        p_side, q_side = pics(pbx, pby), pics(qbx, qby)
        if len(p_side) != len(q_side):
            return 1
        if sorted(pid for pid, _ in p_side) != sorted(
            pid for pid, _ in q_side
        ):
            return 1
        if len(p_side) == 1:
            return 1 if mv_far(p_side[0][1], q_side[0][1]) else 0
        # two predictions per side: try the direct pairing, and the
        # swapped one when both predictions come from ONE picture
        (pa, ma), (pb, mb_) = p_side
        qm = {0: q_side[0], 1: q_side[1]}
        if qm[0][0] != pa:
            qm = {0: q_side[1], 1: q_side[0]}
        ok = not mv_far(ma, qm[0][1]) and not mv_far(mb_, qm[1][1])
        if not ok and pa == pb:
            ok = (not mv_far(ma, qm[1][1])
                  and not mv_far(mb_, qm[0][1]))
        return 0 if ok else 1

    for by in range(bh):
        for bx in range(1, bw):
            bs_v[by, bx] = bs(bx - 1, by, bx, by, bx % 4 == 0)
    for by in range(1, bh):
        for bx in range(bw):
            bs_h[by, bx] = bs(bx, by - 1, bx, by, by % 4 == 0)
    return bs_v, bs_h


def _deblock_plane(plane: np.ndarray, mb_size: int, qp_idx: int,
                   idx_b: int, is_luma: bool,
                   bs_v: np.ndarray, bs_h: np.ndarray) -> None:
    """Filter one plane in place: per MB (raster order), all vertical
    edges left-to-right, then all horizontal edges top-to-bottom —
    later edges read already-filtered samples, per §8.7.  Boundary
    strengths come per 4x4-LUMA-block segment from the grids (chroma
    edges map to their co-located luma segment — the spec's 4:2:0
    rule), so a bS-0 segment is left untouched."""
    h, w = plane.shape
    step = 4
    scale = 1 if is_luma else 2  # chroma coords → luma block coords
    for mby in range(h // mb_size):
        for mbx in range(w // mb_size):
            x0, y0 = mbx * mb_size, mby * mb_size
            for ex in range(0, mb_size, step):
                x = x0 + ex
                if x == 0:
                    continue  # no left neighbour
                bcol = (x * scale) // 4
                for y in range(y0, y0 + mb_size):
                    bs = int(bs_v[(y * scale) // 4, bcol])
                    if bs == 0:
                        continue
                    p = [int(plane[y, x - 1 - k]) for k in range(4)]
                    q = [int(plane[y, x + k]) for k in range(4)]
                    out = _filter_edge_line(p, q, bs, qp_idx, idx_b, is_luma)
                    if out is None:
                        continue
                    np_, nq = out
                    for k in range(3):
                        plane[y, x - 1 - k] = np_[k]
                        plane[y, x + k] = nq[k]
            for ey in range(0, mb_size, step):
                y = y0 + ey
                if y == 0:
                    continue
                brow = (y * scale) // 4
                for x in range(x0, x0 + mb_size):
                    bs = int(bs_h[brow, (x * scale) // 4])
                    if bs == 0:
                        continue
                    p = [int(plane[y - 1 - k, x]) for k in range(4)]
                    q = [int(plane[y + k, x]) for k in range(4)]
                    out = _filter_edge_line(p, q, bs, qp_idx, idx_b, is_luma)
                    if out is None:
                        continue
                    np_, nq = out
                    for k in range(3):
                        plane[y - 1 - k, x] = np_[k]
                        plane[y + k, x] = nq[k]


def deblock_frame(
    y: np.ndarray, u: np.ndarray, v: np.ndarray, qp: int,
    chroma_qp_offset: int = 0, alpha_off: int = 0, beta_off: int = 0,
    st: _FrameState | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """§8.7 over a decoded frame (returns filtered copies; inputs — the
    intra-prediction-reference planes — are left untouched).  Without
    ``st``: the fixed all-intra strengths.  With ``st`` (a P picture's
    frame state): the §8.7.2.1 per-edge derivation from intra-ness,
    coefficient presence (TotalCoeff maps) and MV deltas."""
    y, u, v = y.copy(), u.copy(), v.copy()
    if st is None:
        bs_v, bs_h = _intra_bs_grids(y.shape[1] // 16, y.shape[0] // 16)
    else:
        bs_v, bs_h = _inter_bs_grids(st)
    idx_a = max(0, min(51, qp + alpha_off))
    idx_b = max(0, min(51, qp + beta_off))
    _deblock_plane(y, 16, idx_a, idx_b, True, bs_v, bs_h)
    qpc = _QPC[max(0, min(51, qp + chroma_qp_offset))]
    idx_ac = max(0, min(51, qpc + alpha_off))
    idx_bc = max(0, min(51, qpc + beta_off))
    _deblock_plane(u, 8, idx_ac, idx_bc, False, bs_v, bs_h)
    _deblock_plane(v, 8, idx_ac, idx_bc, False, bs_v, bs_h)
    return y, u, v


# ---------------------------------------------------------------------------
# Intra_4x4 (§8.3.1): 9 per-block predictors, most-probable-mode
# signaling, me(v)-coded CBP
# ---------------------------------------------------------------------------

I4_V, I4_H, I4_DC, I4_DDL, I4_DDR, I4_VR, I4_HD, I4_VL, I4_HU = range(9)

_Z_OF_XY = {xy: z for z, xy in enumerate(_LUMA_BLK_XY)}

# Table 9-4, Intra_4x4 column: codeNum -> coded_block_pattern.
# Transcribed from the published spec; self-consistency guaranteed by
# the shared encode/decode instance, spot values pinned in tests.
_CBP_INTRA4 = (
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
)
_CBP_INTRA4_ENC = {cbp: code for code, cbp in enumerate(_CBP_INTRA4)}


def _blk_order(abx: int, aby: int, mb_w: int) -> int:
    """Total decoding order of the 4x4 block at absolute block coords
    under raster-MB + z-scan-within-MB order."""
    return ((aby // 4) * mb_w + (abx // 4)) * 16 + _Z_OF_XY[
        (abx % 4, aby % 4)
    ]


def _fetch_i4_neighbours(plane: np.ndarray, abx: int, aby: int, st=None):
    """(left[4], top[8], corner, avail_left, avail_top) for the 4x4
    block at absolute block coords; top[4..7] (the top-right run)
    substitutes top[3] when the above-right block is not yet decoded
    (§8.3.1.2's sample substitution).  ``st`` makes availability
    slice-aware (§6.4.9): a neighbour in another slice is absent —
    and since slices are contiguous raster ranges, a same-slice top
    neighbour implies the corner and above-right run are same-slice
    too."""
    x0, y0 = abx * 4, aby * 4
    h, w = plane.shape
    blocks_w, mb_w = w // 4, w // 16
    if st is None:
        avail_top = aby > 0
        avail_left = abx > 0
        avail_c = avail_top and avail_left
    else:
        avail_top = st.blk_avail(abx, aby - 1)
        avail_left = st.blk_avail(abx - 1, aby)
        avail_c = st.blk_avail(abx - 1, aby - 1)
    top = np.zeros(8, dtype=np.int64)
    left = np.zeros(4, dtype=np.int64)
    corner = 0
    if avail_top:
        top[:4] = plane[y0 - 1, x0 : x0 + 4]
        tr_ok = abx + 1 < blocks_w and _blk_order(
            abx + 1, aby - 1, mb_w
        ) < _blk_order(abx, aby, mb_w)
        if st is not None:
            tr_ok = tr_ok and st.blk_avail(abx + 1, aby - 1)
        if tr_ok:
            top[4:] = plane[y0 - 1, x0 + 4 : x0 + 8]
        else:
            top[4:] = top[3]
    if avail_left:
        left[:] = plane[y0 : y0 + 4, x0 - 1]
    if avail_c:
        corner = int(plane[y0 - 1, x0 - 1])
    return left, top, corner, avail_left, avail_top, avail_c


def _pred_i4(mode: int, left, top, corner: int, avail_l: bool,
             avail_t: bool, avail_c: bool | None = None) -> np.ndarray:
    """One 4x4 prediction block (§8.3.1.2.1-9).  Raises for modes
    whose neighbours are absent."""
    t, l = top, left  # noqa: E741
    pred = np.empty((4, 4), dtype=np.int64)
    if mode == I4_DC:
        if avail_t and avail_l:
            v = (int(t[:4].sum()) + int(l.sum()) + 4) >> 3
        elif avail_t:
            v = (int(t[:4].sum()) + 2) >> 2
        elif avail_l:
            v = (int(l.sum()) + 2) >> 2
        else:
            v = 128
        pred[:] = v
        return pred
    if mode == I4_V:
        if not avail_t:
            raise MediaFormatError("I4 vertical without top")
        return np.tile(t[:4], (4, 1))
    if mode == I4_H:
        if not avail_l:
            raise MediaFormatError("I4 horizontal without left")
        return np.tile(l[:, None], (1, 4))
    if mode == I4_DDL:
        if not avail_t:
            raise MediaFormatError("I4 DDL without top")
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    pred[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    k = x + y
                    pred[y, x] = (t[k] + 2 * t[k + 1] + t[k + 2] + 2) >> 2
        return pred
    if mode in (I4_DDR, I4_VR, I4_HD):
        if avail_c is None:
            avail_c = avail_t and avail_l
        if not (avail_t and avail_l and avail_c):
            raise MediaFormatError("I4 diagonal without both neighbours")
    if mode == I4_DDR:
        for y in range(4):
            for x in range(4):
                if x > y:
                    k = x - y  # (t[k-2] + 2 t[k-1] + t[k] + 2) >> 2
                    a = corner if k - 2 < 0 else int(t[k - 2])
                    pred[y, x] = (a + 2 * int(t[k - 1]) + int(t[k]) + 2) >> 2
                elif x < y:
                    k = y - x
                    a = corner if k - 2 < 0 else int(l[k - 2])
                    pred[y, x] = (a + 2 * int(l[k - 1]) + int(l[k]) + 2) >> 2
                else:
                    pred[y, x] = (int(t[0]) + 2 * corner + int(l[0]) + 2) >> 2
        return pred
    if mode == I4_VR:
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    a = corner if i - 1 < 0 else int(t[i - 1])
                    pred[y, x] = (a + int(t[i]) + 1) >> 1
                elif z >= 0:
                    i = x - (y >> 1)
                    a = corner if i - 2 < 0 else int(t[i - 2])
                    b = corner if i - 1 < 0 else int(t[i - 1])
                    pred[y, x] = (a + 2 * b + int(t[i]) + 2) >> 2
                elif z == -1:
                    pred[y, x] = (int(l[0]) + 2 * corner + int(t[0]) + 2) >> 2
                else:
                    k = y - 2 * x
                    pred[y, x] = (
                        int(l[k - 1]) + 2 * int(l[k - 2])
                        + (int(l[k - 3]) if k - 3 >= 0 else corner) + 2
                    ) >> 2
        return pred
    if mode == I4_HD:
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    a = corner if i - 1 < 0 else int(l[i - 1])
                    pred[y, x] = (a + int(l[i]) + 1) >> 1
                elif z >= 0:
                    i = y - (x >> 1)
                    a = corner if i - 2 < 0 else int(l[i - 2])
                    b = corner if i - 1 < 0 else int(l[i - 1])
                    pred[y, x] = (a + 2 * b + int(l[i]) + 2) >> 2
                elif z == -1:
                    pred[y, x] = (int(t[0]) + 2 * corner + int(l[0]) + 2) >> 2
                else:
                    k = x - 2 * y
                    pred[y, x] = (
                        int(t[k - 1]) + 2 * int(t[k - 2])
                        + (int(t[k - 3]) if k - 3 >= 0 else corner) + 2
                    ) >> 2
        return pred
    if mode == I4_VL:
        if not avail_t:
            raise MediaFormatError("I4 VL without top")
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    pred[y, x] = (int(t[i]) + int(t[i + 1]) + 1) >> 1
                else:
                    pred[y, x] = (
                        int(t[i]) + 2 * int(t[i + 1]) + int(t[i + 2]) + 2
                    ) >> 2
        return pred
    if mode == I4_HU:
        if not avail_l:
            raise MediaFormatError("I4 HU without left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z % 2 == 0 and z < 6:
                    i = y + (x >> 1)
                    pred[y, x] = (int(l[i]) + int(l[i + 1]) + 1) >> 1
                elif z % 2 == 1 and z < 5:
                    i = y + (x >> 1)
                    pred[y, x] = (
                        int(l[i]) + 2 * int(l[i + 1]) + int(l[i + 2]) + 2
                    ) >> 2
                elif z == 5:
                    pred[y, x] = (int(l[2]) + 3 * int(l[3]) + 2) >> 2
                else:
                    pred[y, x] = int(l[3])
        return pred
    raise MediaFormatError(f"invalid Intra_4x4 mode {mode}")


def _i4_legal_modes(
    avail_l: bool, avail_t: bool, avail_c: bool | None = None
) -> list[int]:
    if avail_c is None:
        avail_c = avail_l and avail_t
    modes = [I4_DC]
    if avail_t:
        modes += [I4_V, I4_DDL, I4_VL]
    if avail_l:
        modes += [I4_H, I4_HU]
    if avail_t and avail_l and avail_c:
        modes += [I4_DDR, I4_VR, I4_HD]
    return modes


def _encode_i4_mb(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    mtype_off: int = 0,
) -> None:
    """Intra_4x4 macroblock: closed-loop per-block mode decision and
    reconstruction (later blocks predict from just-reconstructed
    pixels), then the §7.3.5 syntax — mb_type 0, sixteen
    prev/rem mode entries against the most-probable mode, one chroma
    mode, me(v)-coded CBP, qp-delta when coded, CBP-gated residuals
    (full 16-coefficient blocks: I_4x4 has no separate luma DC)."""
    zs: list[np.ndarray] = []
    modes: list[int] = []
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        x0, y0 = abx * 4, aby * 4
        left, top, corner, avail_l, avail_t, avail_c = (
            _fetch_i4_neighbours(st.y, abx, aby, st=st)
        )
        src_blk = src_y[y0 : y0 + 4, x0 : x0 + 4].astype(np.int64)
        best_sad, mode, best_pred = None, None, None
        for m in _i4_legal_modes(avail_l, avail_t, avail_c):
            p = _pred_i4(m, left, top, corner, avail_l, avail_t,
                         avail_c)
            sad = int(np.abs(src_blk - p).sum())
            if best_sad is None or sad < best_sad:
                best_sad, mode, best_pred = sad, m, p
        z = quant_ac(fdct4x4(src_blk - best_pred), qp)
        st.y[y0 : y0 + 4, x0 : x0 + 4] = np.clip(
            best_pred + idct4x4(dequant_ac(z, qp)), 0, 255
        )
        st.i4_mode[aby, abx] = mode
        zs.append(z)
        modes.append(mode)
    cbp_luma = 0
    for b8 in range(4):
        if any(np.any(zs[b8 * 4 + k]) for k in range(4)):
            cbp_luma |= 1 << b8
    chroma_mode, cbp_chroma, cdcq, cacq = _encode_chroma(
        st, mbx, mby, qp, src_u, src_v
    )
    cbp = cbp_luma | (cbp_chroma << 4)
    # ---- syntax
    w.ue(0 + mtype_off)  # mb_type: I_4x4
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        mpm = st.i4_mpm(abx, aby)
        if modes[blk] == mpm:
            w.u(1, 1)  # prev_intra4x4_pred_mode_flag
        else:
            w.u(0, 1)
            rem = modes[blk] if modes[blk] < mpm else modes[blk] - 1
            w.u(rem, 3)
    w.ue(chroma_mode)
    w.ue(_CBP_INTRA4_ENC[cbp])
    if cbp:
        w.se(0)  # mb_qp_delta
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if cbp_luma & (1 << (blk // 4)):
            nc = st.nc_luma(abx, aby)
            total = encode_residual(
                w, _zigzag_list(zs[blk], skip_dc=False), nc
            )
            st.nc_y[aby, abx] = total
        else:
            st.nc_y[aby, abx] = 0
    _write_chroma_residuals(w, st, mbx, mby, cbp_chroma, cdcq, cacq)
    _reconstruct_chroma(st, mbx, mby, qp, 0, chroma_mode, cdcq, cacq)


def _decode_i4_mb(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, qp: int,
    chroma_qp_offset: int,
) -> None:
    modes: list[int] = []
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        mpm = st.i4_mpm(abx, aby)
        if r.u(1):
            mode = mpm
        else:
            rem = r.u(3)
            mode = rem if rem < mpm else rem + 1
        st.i4_mode[aby, abx] = mode
        modes.append(mode)
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise MediaFormatError("invalid intra_chroma_pred_mode")
    code = r.ue()
    if code >= len(_CBP_INTRA4):
        raise MediaFormatError("coded_block_pattern code out of range")
    cbp = _CBP_INTRA4[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma > 2:
        raise MediaFormatError("invalid chroma coded_block_pattern")
    if cbp and r.se() != 0:
        raise MediaFormatError("mb_qp_delta outside the fixed-QP subset")
    # luma: parse + reconstruct per block in z-order (later blocks
    # predict from the just-written pixels, like the encoder)
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        x0, y0 = abx * 4, aby * 4
        if cbp_luma & (1 << (blk // 4)):
            coeffs, total = decode_residual(r, st.nc_luma(abx, aby), 16)
            st.nc_y[aby, abx] = total
            z = _unzigzag(coeffs, skip_dc=False)
        else:
            st.nc_y[aby, abx] = 0
            z = np.zeros((4, 4), dtype=np.int64)
        left, top, corner, avail_l, avail_t, avail_c = (
            _fetch_i4_neighbours(st.y, abx, aby, st=st)
        )
        pred = _pred_i4(modes[blk], left, top, corner, avail_l,
                        avail_t, avail_c)
        st.y[y0 : y0 + 4, x0 : x0 + 4] = np.clip(
            pred + idct4x4(dequant_ac(z, qp)), 0, 255
        )
    cdc, cac = _read_chroma_residuals(r, st, mbx, mby, cbp_chroma)
    _reconstruct_chroma(
        st, mbx, mby, qp, chroma_qp_offset, chroma_mode, cdc, cac
    )


# ---------------------------------------------------------------------------
# P slices (§8.4): motion compensation — round 10; MULTI-REFERENCE
# lists round 13.
#
# Subset: P_Skip / P_L0_16x16 / P_L0_L0_16x8 / P_L0_L0_8x16 /
# P_8x8+P_8x8ref0 (all four Table 7-17 sub-partition shapes) plus
# intra macroblocks (mb_type + 5), up to 8 reference pictures
# (FILTERED outputs, sliding window, per-partition ref_idx_l0 te(v)
# when the header opens more than one), quarter-pel luma interpolation
# (§8.4.2.2.1 6-tap) and eighth-pel bilinear chroma (§8.4.2.2.2),
# median/directional MV prediction with refIdx matching (§8.4.1.3)
# and the P_Skip MV rule (§8.4.1.1), CAVLC residuals with the
# Table 9-4 Inter CBP column, and §8.7 deblocking with the real
# §8.7.2.1 per-edge boundary strengths — the motion rule comparing
# reference PICTURES (POC identity), not list indices (the encoder
# signals the filter ON — the spec-realistic default — and both sides
# run the identical filtered reference loop).  B slices decode since
# round 12 — see the B section below.
# ---------------------------------------------------------------------------

# Table 9-4, Inter column: codeNum -> coded_block_pattern.  Transcribed
# from the published spec; self-consistency guaranteed by the shared
# encode/decode instance, permutation + spot values pinned in tests.
_CBP_INTER = (
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
)
_CBP_INTER_ENC = {cbp: code for code, cbp in enumerate(_CBP_INTER)}


def _mc_luma(
    ref_y: np.ndarray, x0: int, y0: int, bw: int, bh: int,
    mvx: int, mvy: int,
) -> np.ndarray:
    """Quarter-pel luma motion compensation for a bw×bh block whose
    top-left sits at (x0, y0), per §8.4.2.2.1: 6-tap (1,-5,20,20,-5,1)
    half-pel filter, quarter positions by averaging (Table 8-12).
    Out-of-picture samples come from per-coordinate clamping, which is
    exactly the spec's edge extension."""
    ix, iy = mvx >> 2, mvy >> 2
    fx, fy = mvx & 3, mvy & 3
    xs = np.clip(
        np.arange(x0 + ix - 2, x0 + ix + bw + 3), 0, ref_y.shape[1] - 1
    )
    ys = np.clip(
        np.arange(y0 + iy - 2, y0 + iy + bh + 3), 0, ref_y.shape[0] - 1
    )
    e = ref_y[np.ix_(ys, xs)].astype(np.int64)  # (bh+5, bw+5)
    full = e[2 : 3 + bh, 2 : 3 + bw]  # integer grid incl. +1 row/col
    if fx == 0 and fy == 0:
        return full[:bh, :bw]
    taps = (1, -5, 20, 20, -5, 1)

    def hfilt(a: np.ndarray) -> np.ndarray:  # horizontal 6-tap, raw sums
        return sum(t * a[:, k : a.shape[1] - 5 + k] for k, t in enumerate(taps))

    def vfilt(a: np.ndarray) -> np.ndarray:  # vertical 6-tap, raw sums
        return sum(t * a[k : a.shape[0] - 5 + k, :] for k, t in enumerate(taps))

    # half-pel grids (b: between columns, h: between rows), §8.4.2.2.1
    b1_full = hfilt(e)  # (bh+5, bw) raw 20-bit sums at every row
    b = np.clip((b1_full[2 : 3 + bh, :] + 16) >> 5, 0, 255)  # (bh+1, bw)
    h1 = vfilt(e[:, 2 : 3 + bw])  # (bh, bw+1)
    hh = np.clip((h1 + 16) >> 5, 0, 255)
    j = np.clip((vfilt(b1_full) + 512) >> 10, 0, 255)  # (bh, bw) center

    g0 = full[:bh, :bw]
    h_right = full[:bh, 1 : 1 + bw]
    m_down = full[1 : 1 + bh, :bw]
    b0, s = b[:bh, :], b[1 : 1 + bh, :]
    h0, m = hh[:, :bw], hh[:, 1 : 1 + bw]
    sel = {
        (1, 0): (g0, b0), (2, 0): (b0, None), (3, 0): (b0, h_right),
        (0, 1): (g0, h0), (0, 2): (h0, None), (0, 3): (h0, m_down),
        (1, 1): (b0, h0), (3, 1): (b0, m), (1, 3): (h0, s),
        (3, 3): (m, s), (2, 1): (b0, j), (1, 2): (h0, j),
        (3, 2): (j, m), (2, 3): (j, s), (2, 2): (j, None),
    }[(fx, fy)]
    a0, a1 = sel
    return a0 if a1 is None else (a0 + a1 + 1) >> 1


def _mc_chroma(
    ref_c: np.ndarray, cx0: int, cy0: int, bw: int, bh: int,
    mvx: int, mvy: int,
) -> np.ndarray:
    """Eighth-pel bilinear chroma MC (§8.4.2.2.2); same coordinate
    clamping as luma.  The luma quarter-pel MV applies verbatim (chroma
    coordinates are halved, so the same integer is in eighth units)."""
    ix, iy = mvx >> 3, mvy >> 3
    fx, fy = mvx & 7, mvy & 7
    xs = np.clip(np.arange(cx0 + ix, cx0 + ix + bw + 1), 0, ref_c.shape[1] - 1)
    ys = np.clip(np.arange(cy0 + iy, cy0 + iy + bh + 1), 0, ref_c.shape[0] - 1)
    e = ref_c[np.ix_(ys, xs)].astype(np.int64)
    a = e[:bh, :bw]
    bb = e[:bh, 1 : 1 + bw]
    c = e[1 : 1 + bh, :bw]
    d = e[1 : 1 + bh, 1 : 1 + bw]
    return (
        (8 - fx) * (8 - fy) * a + fx * (8 - fy) * bb
        + (8 - fx) * fy * c + fx * fy * d + 32
    ) >> 6


# partition geometry per P mb_type: (kind, block-dx, block-dy, bw, bh)
_P_PARTS = {
    0: (("16x16", 0, 0, 4, 4),),
    1: (("16x8t", 0, 0, 4, 2), ("16x8b", 0, 2, 4, 2)),
    2: (("8x16l", 0, 0, 2, 4), ("8x16r", 2, 0, 2, 4)),
}

# P_8x8 sub-partition geometry per sub_mb_type (Table 7-17), offsets
# relative to the 8x8 quadrant's block origin, in decode order; the
# quadrants themselves walk z-order.  Sub-partitions use the plain
# median MV predictor ("sub" matches no directional rule).
_P_SUB_PARTS = {
    0: ((0, 0, 2, 2),),                                  # P_L0_8x8
    1: ((0, 0, 2, 1), (0, 1, 2, 1)),                     # P_L0_8x4
    2: ((0, 0, 1, 2), (1, 0, 1, 2)),                     # P_L0_4x8
    3: ((0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)),
}
_P8_QUADS = ((0, 0), (2, 0), (0, 2), (2, 2))  # z-order block offsets


def _mv_nbr(st: _FrameState, bx: int, by: int):
    """Neighbour block info for MV prediction: (available, inter, mv,
    refIdxL0).  Out-of-picture → unavailable; intra blocks are
    available but not inter (refIdx -1, mv 0 per §8.4.1.3.2)."""
    if not st.blk_avail(bx, by):
        return (False, False, (0, 0), -1)
    if not st.inter[by, bx]:
        return (True, False, (0, 0), -1)
    return (
        True, True,
        (int(st.mv[by, bx, 0]), int(st.mv[by, bx, 1])),
        int(st.ref0[by, bx]),
    )


def _pred_mv(
    st: _FrameState, abx: int, aby: int, pw: int, kind: str,
    ref_idx: int = 0,
) -> tuple[int, int]:
    """§8.4.1.3 MV predictor for the partition whose top-left 4x4 block
    is (abx, aby), ``pw`` blocks wide, predicting from L0 ``ref_idx``.
    A neighbour "matches" iff it is inter AND references the same
    index (§8.4.1.3.2); non-matching inter neighbours still contribute
    their MV to the median (§8.4.1.3.1)."""
    a = _mv_nbr(st, abx - 1, aby)
    b = _mv_nbr(st, abx, aby - 1)
    # C = top-right of the partition; available only if already DECODED
    # under raster-MB + z-scan order (§6.4.11) — exact via _blk_order,
    # which covers both the cross-MB cases and top-right blocks inside
    # the current MB (reachable for P_8x8 sub-partitions) — else
    # substitute D (top-left)
    c_bx = abx + pw
    if (
        st.blk_avail(c_bx, aby - 1)
        and _blk_order(c_bx, aby - 1, st.mb_w)
        < _blk_order(abx, aby, st.mb_w)
    ):
        c = _mv_nbr(st, c_bx, aby - 1)
    else:
        c = (False, False, (0, 0), -1)
    if not c[0]:
        c = _mv_nbr(st, abx - 1, aby - 1)  # D
    # §8.4.1.3.2 edge rule: only A usable → A supplies B and C
    if a[0] and not b[0] and not c[0]:
        b = c = a
    # directional rules for the rectangular partitions (§8.4.1.3):
    # the named neighbour wins IFF its refIdx matches
    if kind == "16x8t" and b[1] and b[3] == ref_idx:
        return b[2]
    if kind == "16x8b" and a[1] and a[3] == ref_idx:
        return a[2]
    if kind == "8x16l" and a[1] and a[3] == ref_idx:
        return a[2]
    if kind == "8x16r" and c[1] and c[3] == ref_idx:
        return c[2]
    matching = [n for n in (a, b, c) if n[1] and n[3] == ref_idx]
    if len(matching) == 1:
        return matching[0][2]
    mvs = [n[2] for n in (a, b, c)]
    return (
        int(np.median([m[0] for m in mvs])),
        int(np.median([m[1] for m in mvs])),
    )


def _skip_mv(st: _FrameState, mbx: int, mby: int) -> tuple[int, int]:
    """§8.4.1.1: P_Skip motion — zero when either edge neighbour is
    missing or a zero-MV refIdx-0 neighbour exists, else the 16x16
    predictor (refIdx 0: P_Skip always references L0[0])."""
    a = _mv_nbr(st, mbx * 4 - 1, mby * 4)
    b = _mv_nbr(st, mbx * 4, mby * 4 - 1)
    if not a[0] or not b[0]:
        return (0, 0)
    if (a[1] and a[3] == 0 and a[2] == (0, 0)) or (
        b[1] and b[3] == 0 and b[2] == (0, 0)
    ):
        return (0, 0)
    return _pred_mv(st, mbx * 4, mby * 4, 4, "16x16")


def _wp_apply(p: np.ndarray, w: int, o: int, d: int) -> np.ndarray:
    """§8.4.2.3.2 explicit weighted sample prediction (single list):
    Clip1(((p * w + 2^(d-1)) >> d) + o) — arithmetic shift, so
    negative weights follow the spec's sign-extending >>."""
    if d > 0:
        v = ((p * w + (1 << (d - 1))) >> d) + o
    else:
        v = p * w + o
    return np.clip(v, 0, 255)


def _mc_mb_pred(
    ref, mbx: int, mby: int,
    parts: tuple, mvs: list[tuple[int, int]],
    refidxs: list[int] | None = None,
    wp: dict | None = None,
):
    """Assemble the full 16x16 luma + 8x8 chroma MC prediction for a
    partitioned macroblock.  ``ref`` is a single (Y, U, V) tuple
    (single-reference paths) or a LIST of them indexed by the
    per-partition ``refidxs`` (multi-reference P, round 13).  ``wp``
    (a parsed pred_weight_table) applies §8.4.2.3.2 explicit
    weighting per partition by its reference index."""
    multi = isinstance(ref, list)
    pred_y = np.empty((16, 16), dtype=np.int64)
    pred_u = np.empty((8, 8), dtype=np.int64)
    pred_v = np.empty((8, 8), dtype=np.int64)
    for i, ((kind, dx, dy, pw, ph), (mvx, mvy)) in enumerate(
        zip(parts, mvs)
    ):
        ri = refidxs[i] if refidxs else 0
        ry, ru, rv = ref[ri] if multi else ref
        lx, ly, lw, lh = dx * 4, dy * 4, pw * 4, ph * 4
        py = _mc_luma(
            ry, mbx * 16 + lx, mby * 16 + ly, lw, lh, mvx, mvy
        )
        cx, cy, cw, ch = dx * 2, dy * 2, pw * 2, ph * 2
        pu = _mc_chroma(
            ru, mbx * 8 + cx, mby * 8 + cy, cw, ch, mvx, mvy
        )
        pv = _mc_chroma(
            rv, mbx * 8 + cx, mby * 8 + cy, cw, ch, mvx, mvy
        )
        if wp is not None and wp["w"][ri] is not None:
            ent = wp["w"][ri]
            py = _wp_apply(
                py.astype(np.int64), ent["lw"], ent["lo"], wp["ld"]
            )
            pu = _wp_apply(
                pu.astype(np.int64), ent["cw"][0], ent["co"][0],
                wp["cd"],
            )
            pv = _wp_apply(
                pv.astype(np.int64), ent["cw"][1], ent["co"][1],
                wp["cd"],
            )
        pred_y[ly : ly + lh, lx : lx + lw] = py
        pred_u[cy : cy + ch, cx : cx + cw] = pu
        pred_v[cy : cy + ch, cx : cx + cw] = pv
    return pred_y, pred_u, pred_v


def _store_part_mv(
    st: _FrameState, mbx: int, mby: int, part, mv: tuple[int, int],
    ref_idx: int = 0,
) -> None:
    _, dx, dy, pw, ph = part
    bx, by = mbx * 4 + dx, mby * 4 + dy
    st.mv[by : by + ph, bx : bx + pw] = mv
    st.inter[by : by + ph, bx : bx + pw] = True
    st.uses0[by : by + ph, bx : bx + pw] = True
    st.ref0[by : by + ph, bx : bx + pw] = ref_idx


# ---------------------------------------------------------------------------
# B slices (round 12; partitioned + temporal direct round 13)
# ---------------------------------------------------------------------------
# Subset: low-delay B — all references PRECEDE the B picture in
# display order (coded order == display order, so containers carry no
# reorder), non-reference NALs (nal_ref_idc 0), one slice per picture.
# Default RefPicList construction (§8.2.4.2.3) gives L0 = references
# in recency (= POC-descending) order and L1 = L0 with the first two
# entries swapped → L1[0] = the second-most-recent reference.  Modes:
# 16x16 B_L0/B_L1/B_Bi, every Table 7-14 two-partition 16x8/8x16 list
# pair, B_8x8 with all Table 7-18 sub_mb_types, B_Skip and
# B_Direct_16x16/B_Direct_8x8 via SPATIAL direct (§8.4.1.2.2:
# MinPositive neighbour refIdx per list, median MVs,
# per-8x8-quadrant zeroing when RefPicList1[0]'s colocated corner
# block — callers thread that picture's motion snapshot — is refIdx-0
# inter with |mvCol| ≤ 1) or TEMPORAL direct (§8.4.1.2.3: POC-scaled
# colocated motion; see _b_direct_temporal), per the slice header
# flag.  ref_idx te(v) syntax appears when the header opens more than
# one reference per list.


def _mv_nbr_l(st: _FrameState, bx: int, by: int, lst: int):
    """Per-list neighbour info for B MV prediction: (available,
    uses-this-list, mv, refIdx).  A neighbour that doesn't predict
    from the list contributes refIdx -1 / mv 0 (§8.4.1.3.2)."""
    if not st.blk_avail(bx, by):
        return (False, False, (0, 0), -1)
    uses = st.uses1 if lst else st.uses0
    if not uses[by, bx]:
        return (True, False, (0, 0), -1)
    mvf = st.mv1 if lst else st.mv
    reff = st.ref1 if lst else st.ref0
    return (
        True, True,
        (int(mvf[by, bx, 0]), int(mvf[by, bx, 1])),
        int(reff[by, bx]),
    )


def _b_nbrs(
    st: _FrameState, mbx: int, mby: int, lst: int,
    abx: int | None = None, aby: int | None = None, pw: int = 4,
):
    """The A/B/C neighbour triple for a B partition on list ``lst`` —
    C availability by exact decode order with the D (top-left)
    fallback, and the §8.4.1.3.2 only-A edge rule.  Shared by MV
    prediction AND spatial-direct derivation so the two can never
    drift (round-12 review).  Defaults to the MB's own 16x16
    partition; round 13 callers pass (abx, aby, pw) for the
    rectangular / 8x8 B partitions."""
    if abx is None:
        abx, aby = mbx * 4, mby * 4
    a = _mv_nbr_l(st, abx - 1, aby, lst)
    b = _mv_nbr_l(st, abx, aby - 1, lst)
    c_bx = abx + pw
    if (
        st.blk_avail(c_bx, aby - 1)
        and _blk_order(c_bx, aby - 1, st.mb_w)
        < _blk_order(abx, aby, st.mb_w)
    ):
        c = _mv_nbr_l(st, c_bx, aby - 1, lst)
    else:
        c = (False, False, (0, 0), -1)
    if not c[0]:
        c = _mv_nbr_l(st, abx - 1, aby - 1, lst)
    if a[0] and not b[0] and not c[0]:
        b = c = a
    return a, b, c


def _pred_mv_b(
    st: _FrameState, mbx: int, mby: int, lst: int, ref_idx: int = 0,
    abx: int | None = None, aby: int | None = None, pw: int = 4,
    kind: str = "16x16",
):
    """§8.4.1.3 median MV predictor for a B partition on list ``lst``
    predicting from ``ref_idx`` — a neighbour matches iff it uses the
    list with the same index; the directional 16x8/8x16 rules apply
    for the rectangular partitions (round 13)."""
    a, b, c = _b_nbrs(st, mbx, mby, lst, abx, aby, pw)
    if kind == "16x8t" and b[1] and b[3] == ref_idx:
        return b[2]
    if kind == "16x8b" and a[1] and a[3] == ref_idx:
        return a[2]
    if kind == "8x16l" and a[1] and a[3] == ref_idx:
        return a[2]
    if kind == "8x16r" and c[1] and c[3] == ref_idx:
        return c[2]
    matching = [n for n in (a, b, c) if n[1] and n[3] == ref_idx]
    if len(matching) == 1:
        return matching[0][2]
    mvs = [n[2] for n in (a, b, c)]
    return (
        int(np.median([m[0] for m in mvs])),
        int(np.median([m[1] for m in mvs])),
    )


def _store_b_mv(
    st: _FrameState, mbx: int, mby: int,
    mv0, mv1, u0: bool, u1: bool, r0: int = 0, r1: int = 0,
) -> None:
    bx, by = mbx * 4, mby * 4
    st.inter[by : by + 4, bx : bx + 4] = True
    st.uses0[by : by + 4, bx : bx + 4] = u0
    st.uses1[by : by + 4, bx : bx + 4] = u1
    if u0:
        st.mv[by : by + 4, bx : bx + 4] = mv0
        st.ref0[by : by + 4, bx : bx + 4] = r0
    if u1:
        st.mv1[by : by + 4, bx : bx + 4] = mv1
        st.ref1[by : by + 4, bx : bx + 4] = r1


def _wp_apply_bi(
    p0: np.ndarray, p1: np.ndarray,
    w0: int, w1: int, o0: int, o1: int, d: int,
) -> np.ndarray:
    """§8.4.2.3.2 explicit weighted BI prediction (eq 8-270):
    Clip1(((p0*w0 + p1*w1 + 2^d) >> (d+1)) + ((o0+o1+1) >> 1)) —
    identity entries reduce it to the default (p0+p1+1)>>1 average."""
    v = (
        (p0 * w0 + p1 * w1 + (1 << d)) >> (d + 1)
    ) + ((o0 + o1 + 1) >> 1)
    return np.clip(v, 0, 255)


def _wp_ident(ld: int, cd: int) -> dict:
    return {"lw": 1 << ld, "lo": 0, "cw": [1 << cd, 1 << cd],
            "co": [0, 0]}


def _b_combine(planes: list, ents: list, wp: dict | None):
    """Combine the used-list predictions of one B partition:
    default average / copy when ``wp`` is None, else the §8.4.2.3.2
    explicit formulas with per-(list, refIdx) entries (None entry =
    identity).  ``planes``/``ents`` hold one item per USED list."""
    if wp is None:
        if len(planes) == 2:
            return tuple(
                (p0.astype(np.int64) + p1.astype(np.int64) + 1) >> 1
                for p0, p1 in zip(planes[0], planes[1])
            )
        return planes[0]
    if wp.get("implicit"):
        # §8.4.2.3.1 IMPLICIT weighted prediction (round 16): only
        # BI-predicted partitions weight — single-list prediction is
        # the §8.4.2.2 default copy.  logWD = 5, zero offsets, same
        # w0/w1 for luma and chroma, looked up per
        # (refIdxL0, refIdxL1) from the POC-derived table attached by
        # _implicit_wp_table at slice setup.
        if len(planes) == 1:
            return planes[0]
        pair = wp["tab"].get((ents[0], ents[1]))
        if pair is None:
            raise MediaFormatError(
                "implicit weight for an inactive reference pair"
            )
        w0, w1 = pair
        (y0, u0, v0), (y1, u1, v1) = planes
        return (
            _wp_apply_bi(y0.astype(np.int64), y1.astype(np.int64),
                         w0, w1, 0, 0, 5),
            _wp_apply_bi(u0.astype(np.int64), u1.astype(np.int64),
                         w0, w1, 0, 0, 5),
            _wp_apply_bi(v0.astype(np.int64), v1.astype(np.int64),
                         w0, w1, 0, 0, 5),
        )
    ld, cd = wp["ld"], wp["cd"]
    es = [e if e is not None else _wp_ident(ld, cd) for e in ents]
    if len(planes) == 1:
        (py, pu, pv), e = planes[0], es[0]
        return (
            _wp_apply(py.astype(np.int64), e["lw"], e["lo"], ld),
            _wp_apply(pu.astype(np.int64), e["cw"][0], e["co"][0], cd),
            _wp_apply(pv.astype(np.int64), e["cw"][1], e["co"][1], cd),
        )
    e0, e1 = es
    (y0, u0, v0), (y1, u1, v1) = planes
    return (
        _wp_apply_bi(
            y0.astype(np.int64), y1.astype(np.int64),
            e0["lw"], e1["lw"], e0["lo"], e1["lo"], ld,
        ),
        _wp_apply_bi(
            u0.astype(np.int64), u1.astype(np.int64),
            e0["cw"][0], e1["cw"][0], e0["co"][0], e1["co"][0], cd,
        ),
        _wp_apply_bi(
            v0.astype(np.int64), v1.astype(np.int64),
            e0["cw"][1], e1["cw"][1], e0["co"][1], e1["co"][1], cd,
        ),
    )


def _implicit_wp_table(ctx: dict) -> None:
    """Attach the §8.4.2.3.1 IMPLICIT-mode weight table to a B slice
    context (round 16): per (refIdxL0, refIdxL1), with pic0 =
    RefPicList0[refIdxL0] and pic1 = RefPicList1[refIdxL1],

        tb  = Clip3(-128, 127, poc(cur)  - poc(pic0))
        td  = Clip3(-128, 127, poc(pic1) - poc(pic0))
        tx  = (16384 + Abs(td/2)) / td         (toward-zero division)
        dsf = Clip3(-1024, 1023, (tb*tx + 32) >> 6)
        w1  = dsf >> 2,  w0 = 64 - w1          (logWD 5, offsets 0)

    falling back to the default 32/32 when td == 0, either reference
    is long-term, or w1 leaves [-64, 128] — the same tb/td/tx
    machinery temporal direct (§8.4.1.2.3) already runs.  Implicit
    weighting NEEDS picture order: a stream without POC context
    quarantines rather than guesses (house rule from temporal
    direct)."""
    wp = ctx.get("wp")
    if not (wp and wp.get("implicit")) or "tab" in wp:
        return
    cur = ctx.get("poc")
    l0p, l1p = ctx.get("l0_pocs"), ctx.get("l1_pocs")
    if cur is None or l0p is None or l1p is None:
        raise MediaFormatError(
            "implicit weighted bi-prediction without picture order "
            "context"
        )
    l0_lts, l1_lts = ctx.get("l0_lts"), ctx.get("l1_lts")
    tab: dict = {}
    for r0 in range(len(l0p)):
        for r1 in range(len(l1p)):
            poc0, poc1 = l0p[r0], l1p[r1]
            lt = (
                (l0_lts is not None and l0_lts[r0] is not None)
                or (l1_lts is not None and l1_lts[r1] is not None)
            )
            td = max(-128, min(127, poc1 - poc0))
            tb = max(-128, min(127, cur - poc0))
            if lt or td == 0:
                tab[(r0, r1)] = (32, 32)
                continue
            num = 16384 + abs(td) // 2
            tx = num // td if td > 0 else -(num // -td)
            dsf = max(-1024, min(1023, (tb * tx + 32) >> 6))
            w1 = dsf >> 2
            if w1 < -64 or w1 > 128:
                tab[(r0, r1)] = (32, 32)
            else:
                tab[(r0, r1)] = (64 - w1, w1)
    wp["tab"] = tab


def _b_wp_ents(ctx: dict, lst: int, ri: int):
    """The (list, refIdx) weight entry under ctx['wp'], or None; in
    IMPLICIT mode the entry is the refIdx itself — _b_combine keys
    the POC-derived pair table with it."""
    wp = ctx.get("wp")
    if wp is None:
        return None
    if wp.get("implicit"):
        return ri
    return wp["w0" if lst == 0 else "w1"][ri]


def _mc_b_pred(
    ctx: dict, mbx: int, mby: int, mode: str, mv0, mv1,
    ri0: int = 0, ri1: int = 0,
):
    """16x16 luma + 8x8 chroma prediction for a B macroblock:
    single-list MC or the bi combine — §8.4.2.3 default average, or
    the §8.4.2.3.2 explicit weighted formulas when the slice carries
    a two-list pred_weight_table (ctx['wp'], round 15)."""
    preds = []
    ents = []
    for use, ref, mv, lst, ri in (
        (mode in ("l0", "bi"), ctx["l0"][ri0], mv0, 0, ri0),
        (mode in ("l1", "bi"), ctx["l1"][ri1], mv1, 1, ri1),
    ):
        if not use:
            continue
        ry, ru, rv = ref
        preds.append((
            _mc_luma(ry, mbx * 16, mby * 16, 16, 16, mv[0], mv[1]),
            _mc_chroma(ru, mbx * 8, mby * 8, 8, 8, mv[0], mv[1]),
            _mc_chroma(rv, mbx * 8, mby * 8, 8, 8, mv[0], mv[1]),
        ))
        ents.append(_b_wp_ents(ctx, lst, ri))
    return _b_combine(preds, ents, ctx.get("wp"))


def _recon_p_skip(
    st: _FrameState, mbx: int, mby: int,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray],
    wp: dict | None = None,
) -> None:
    mv = _skip_mv(st, mbx, mby)
    pred_y, pred_u, pred_v = _mc_mb_pred(
        ref, mbx, mby, _P_PARTS[0], [mv], wp=wp
    )
    x0, y0 = mbx * 16, mby * 16
    st.y[y0 : y0 + 16, x0 : x0 + 16] = pred_y
    cx0, cy0 = mbx * 8, mby * 8
    st.u[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_u
    st.v[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_v
    _store_part_mv(st, mbx, mby, _P_PARTS[0][0], mv)
    st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
    for comp in range(2):
        st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2


def _inter_luma_quant(
    src_y: np.ndarray, pred_y: np.ndarray, mbx: int, mby: int, qp: int
):
    """(source, MC prediction) → 16 quantized 4x4 blocks + cbp_luma.
    Inter luma codes full 16-coefficient blocks (no I_16x16 DC split)
    with the inter quantization deadzone."""
    x0, y0 = mbx * 16, mby * 16
    resid = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64) - pred_y
    zs = []
    cbp_luma = 0
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        z = quant_ac(
            fdct4x4(resid[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4]),
            qp, intra=False,
        )
        zs.append(z)
    for b8 in range(4):
        if any(np.any(zs[b8 * 4 + k]) for k in range(4)):
            cbp_luma |= 1 << b8
    return zs, cbp_luma


def _recon_inter_luma(
    st: _FrameState, mbx: int, mby: int, qp: int,
    pred_y: np.ndarray, zs: list[np.ndarray], cbp_luma: int,
) -> None:
    x0, y0 = mbx * 16, mby * 16
    out = pred_y.copy()
    for blk in range(16):
        if not cbp_luma & (1 << (blk // 4)):
            continue
        bx, by = _LUMA_BLK_XY[blk]
        res = idct4x4(dequant_ac(zs[blk], qp))
        out[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] += res
    st.y[y0 : y0 + 16, x0 : x0 + 16] = np.clip(out, 0, 255)


def _motion_search(
    ry: np.ndarray, src_blk: np.ndarray, x0: int, y0: int,
    pmv: tuple[int, int], dx=0, dy=0, bw=16, bh=16,
) -> tuple[tuple[int, int], int]:
    """Integer-pel full search ±4 around the predictor (plus the zero
    vector), then one half- and one quarter-pel refinement ring — the
    classic two-stage refinement, shared by the P and B deciders.  The
    81-candidate grid is ONE vectorized SAD (sliding_window_view over
    a clamped gather window — per-coordinate clamping identical to
    _mc_luma's edge extension); ties break deterministically: zero
    vector first, then grid row-major (round-11: motion search
    dominated the video fixture lanes ~10:1 over decode)."""

    def sad_at(mvx: int, mvy: int) -> int:
        p = _mc_luma(ry, x0 + dx, y0 + dy, bw, bh, mvx, mvy)
        s = src_blk[dy : dy + bh, dx : dx + bw]
        return int(np.abs(s - p).sum())

    base = (pmv[0] >> 2 << 2, pmv[1] >> 2 << 2)
    bx0 = x0 + dx + (base[0] >> 2)
    by0 = y0 + dy + (base[1] >> 2)
    xs = np.clip(np.arange(bx0 - 4, bx0 + bw + 4), 0, ry.shape[1] - 1)
    ys = np.clip(np.arange(by0 - 4, by0 + bh + 4), 0, ry.shape[0] - 1)
    win = ry[np.ix_(ys, xs)].astype(np.int64)
    s = src_blk[dy : dy + bh, dx : dx + bw]
    wins = np.lib.stride_tricks.sliding_window_view(win, (bh, bw))
    sads = np.abs(wins - s[None, None]).sum(axis=(2, 3))
    offs = np.arange(-4, 5) * 4
    mvxg = base[0] + offs[None, :]
    mvyg = base[1] + offs[:, None]
    costs = sads + 2 * (
        np.abs(mvxg - pmv[0]) + np.abs(mvyg - pmv[1])
    )
    best = (0, 0)
    best_cost = sad_at(0, 0) + 2 * (abs(pmv[0]) + abs(pmv[1]))
    k = int(np.argmin(costs))
    gy, gx = divmod(k, 9)
    gc = int(costs[gy, gx])
    if gc < best_cost:
        best = (int(mvxg[0, gx]), int(mvyg[gy, 0]))
        best_cost = gc
    for step in (2, 1):
        improved = True
        while improved:
            improved = False
            for sx, sy in ((step, 0), (-step, 0), (0, step), (0, -step)):
                mv = (best[0] + sx, best[1] + sy)
                cost = sad_at(mv[0], mv[1]) + 2 * (
                    abs(mv[0] - pmv[0]) + abs(mv[1] - pmv[1])
                )
                if cost < best_cost:
                    best, best_cost = mv, cost
                    improved = True
    return best, best_cost


def _p_mb_decide(
    st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray],
    refs: list | None = None,
    wp: dict | None = None,
) -> tuple[str, dict | None]:
    """Entropy-agnostic P-macroblock decision (motion search, partition
    choice, transform/quant, skip test) for the CAVLC emitter
    below.  Returns
    ``("intra", None)`` (the caller runs its intra MB encoder),
    ``("skip", None)`` (the caller reconstructs P_Skip), or
    ``("inter", payload)`` with everything the emitter needs.  Does NOT
    mutate ``st`` beyond reads: MV storage happens at write time (each
    partition's predictor depends on previously written partitions).

    Multi-reference (round 13): when ``refs`` (the full RefPicList0,
    most recent first — ref == refs[0]) is given, the 16x16 search
    runs once per reference with a te(v)-rate penalty and the winner's
    index anchors every partition of this macroblock (per-partition
    indices stay legal syntax; one index per MB is an encoder choice,
    the decoder accepts any mix)."""
    x0, y0 = mbx * 16, mby * 16
    src_blk = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
    n_refs = len(refs) if refs is not None else 1
    # ---- 16x16 motion estimation (per reference when multi-ref)
    mb_ref = 0
    pmv16 = _pred_mv(st, mbx * 4, mby * 4, 4, "16x16")
    mv16, cost16 = _motion_search(ref[0], src_blk, x0, y0, pmv16)
    for ri in range(1, n_refs):
        pmv_i = _pred_mv(st, mbx * 4, mby * 4, 4, "16x16", ref_idx=ri)
        mv_i, c_i = _motion_search(refs[ri][0], src_blk, x0, y0, pmv_i)
        if c_i + 6 * ri < cost16:  # ref_idx te(v) rate penalty
            mb_ref, pmv16, mv16, cost16 = ri, pmv_i, mv_i, c_i + 6 * ri
    ry = (refs[mb_ref] if refs is not None else ref)[0]

    def search(pmv: tuple[int, int], dx=0, dy=0, bw=16, bh=16):
        return _motion_search(ry, src_blk, x0, y0, pmv, dx, dy, bw, bh)
    # ---- rectangular partitions: estimate with the 16x16 pmv as the
    # search anchor (the exact per-partition pmv is applied at WRITE
    # time; a suboptimal anchor only costs rate, never conformance)
    best_rect = None
    for mtype in (1, 2):
        mvs, cost = [], 10  # ~bits penalty for the second mvd
        for kind, dx, dy, pw, ph in _P_PARTS[mtype]:
            mv, c = search(pmv16, dx * 4, dy * 4, pw * 4, ph * 4)
            mvs.append(mv)
            cost += c
        if best_rect is None or cost < best_rect[2]:
            best_rect = (mtype, mvs, cost)
    # ---- P_8x8 quadrants, tried only when the large partitions
    # leave high residual (ME for 4 quadrants + optional 4x4 splits is
    # the priciest search — spend it where it can pay)
    best_sub = None
    if min(cost16, best_rect[2]) > 1200:
        sub_types, sub_parts, sub_mvs = [], [], []
        cost8 = 16  # sub_mb_type + extra mvd bits estimate
        for qx, qy in _P8_QUADS:
            mv8, c8 = search(pmv16, qx * 4, qy * 4, 8, 8)
            choice = (0, [((0, 0, 2, 2), mv8)], c8)
            if c8 > 400:  # quadrant still poor: try the 4x4 split
                mv4s, c4 = [], 12
                for geom in _P_SUB_PARTS[3]:
                    sdx, sdy, pw, ph = geom
                    mv4, c = search(
                        mv8, (qx + sdx) * 4, (qy + sdy) * 4, 4, 4
                    )
                    mv4s.append((geom, mv4))
                    c4 += c
                if c4 < c8:
                    choice = (3, mv4s, c4)
            sub_types.append(choice[0])
            for (sdx, sdy, pw, ph), mv in choice[1]:
                sub_parts.append(("sub", qx + sdx, qy + sdy, pw, ph))
                sub_mvs.append(mv)
            cost8 += choice[2]
        best_sub = (sub_types, sub_parts, sub_mvs, cost8)
    # ---- intra fallback cost (same SAD basis)
    avail_l16, avail_t16 = _avail_lt(st, mbx, mby)
    legal = [L16_DC]
    if avail_t16:
        legal.append(L16_VERTICAL)
    if avail_l16:
        legal.append(L16_HORIZONTAL)
    intra_sad = min(
        int(np.abs(
            src_blk - _pred_luma16(m, st.y, mbx, mby, st=st)
        ).sum())
        for m in legal
    )
    inter_cost = min(
        cost16, best_rect[2], best_sub[3] if best_sub else 1 << 30
    )
    # with weighted prediction, search SADs are unweighted — the real
    # inter cost is re-measured on the WEIGHTED prediction below
    if wp is None and intra_sad + 24 < inter_cost:
        return "intra", None
    sub_types = None
    if best_sub and best_sub[3] < min(cost16, best_rect[2]):
        mtype, parts, mvs = 3, tuple(best_sub[1]), best_sub[2]
        sub_types = best_sub[0]
    elif cost16 <= best_rect[2]:
        mtype, mvs = 0, [mv16]
        parts = _P_PARTS[0]
    else:
        mtype, mvs = best_rect[0], best_rect[1]
        parts = _P_PARTS[mtype]
    refidxs = [mb_ref] * len(parts)
    pred_y, pred_u, pred_v = _mc_mb_pred(
        refs if refs is not None else ref, mbx, mby, parts, mvs,
        refidxs, wp=wp,
    )
    if wp is not None:
        x0b, y0b = mbx * 16, mby * 16
        inter_w = int(np.abs(src_blk - pred_y).sum())
        if intra_sad + 24 < inter_w:
            return "intra", None
    zs, cbp_luma = _inter_luma_quant(src_y, pred_y, mbx, mby, qp)
    qpc = _QPC[max(0, min(51, qp))]
    cx0, cy0 = mbx * 8, mby * 8
    cres = [
        src[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64) - pred
        for src, pred in ((src_u, pred_u), (src_v, pred_v))
    ]
    cbp_chroma, cdcq, cacq = _chroma_transform_quant(cres, qpc, intra=False)
    cbp = cbp_luma | (cbp_chroma << 4)
    # ---- P_Skip: 16x16 refIdx 0, MV equal to the skip MV, no residue
    if (
        mtype == 0 and cbp == 0 and mb_ref == 0
        and mvs[0] == _skip_mv(st, mbx, mby)
    ):
        return "skip", None
    return "inter", {
        "mtype": mtype,
        "sub_types": sub_types,
        "parts": parts,
        "mvs": mvs,
        "refidxs": refidxs,
        "n_refs": n_refs,
        "zs": zs,
        "cbp_luma": cbp_luma,
        "cbp_chroma": cbp_chroma,
        "cdcq": cdcq,
        "cacq": cacq,
        "preds": (pred_y, pred_u, pred_v),
    }


def _encode_p_mb(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray], skip_run: int,
    refs: list | None = None, wp: dict | None = None,
) -> int:
    """Encode one macroblock of a P slice (CAVLC); returns the updated
    mb_skip_run (incremented if this MB became P_Skip, else flushed
    before the coded MB).  Decisions live in _p_mb_decide."""
    kind, d = _p_mb_decide(
        st, mbx, mby, qp, src_y, src_u, src_v, ref, refs=refs, wp=wp
    )
    if kind == "intra":
        w.ue(skip_run)
        _encode_mb(w, st, mbx, mby, qp, src_y, src_u, src_v, mtype_off=5)
        # intra blocks: not available for inter prediction (defaults
        # in a fresh frame state, but this MB may overwrite)
        st.inter[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.mv[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        return 0
    if kind == "skip":
        _recon_p_skip(st, mbx, mby, ref, wp=wp)
        return skip_run + 1
    mtype, sub_types = d["mtype"], d["sub_types"]
    parts, mvs = d["parts"], d["mvs"]
    refidxs, n_refs = d["refidxs"], d["n_refs"]
    zs, cbp_luma, cbp_chroma = d["zs"], d["cbp_luma"], d["cbp_chroma"]
    cdcq, cacq = d["cdcq"], d["cacq"]
    pred_y, pred_u, pred_v = d["preds"]
    cbp = cbp_luma | (cbp_chroma << 4)
    # ---- syntax
    w.ue(skip_run)
    w.ue(mtype)
    if sub_types is not None:
        for t_ in sub_types:
            w.ue(t_)
    # mb_pred / sub_mb_pred (§7.3.5.1/.2): with more than one active
    # reference, EVERY partition's ref_idx_l0 (te(v)) precedes every
    # mvd — one te per 8x8 quadrant for P_8x8 (mb_type 3), one per
    # partition otherwise
    if n_refs > 1:
        n_te = 4 if mtype == 3 else len(parts)
        for i in range(n_te):
            w.te(refidxs[min(i, len(refidxs) - 1)], n_refs - 1)
    for part, mv, ri in zip(parts, mvs, refidxs):
        kind, dx, dy, pw, _ = part
        pmv = _pred_mv(
            st, mbx * 4 + dx, mby * 4 + dy, pw, kind, ref_idx=ri
        )
        w.se(mv[0] - pmv[0])
        w.se(mv[1] - pmv[1])
        _store_part_mv(st, mbx, mby, part, mv, ref_idx=ri)
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    w.ue(_CBP_INTER_ENC[cbp])
    if cbp:
        w.se(0)  # mb_qp_delta
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if cbp_luma & (1 << (blk // 4)):
            total = encode_residual(
                w, _zigzag_list(zs[blk], skip_dc=False), st.nc_luma(abx, aby)
            )
            st.nc_y[aby, abx] = total
        else:
            st.nc_y[aby, abx] = 0
    _write_chroma_residuals(w, st, mbx, mby, cbp_chroma, cdcq, cacq)
    # ---- closed-loop reconstruction (decoder path)
    _recon_inter_luma(st, mbx, mby, qp, pred_y, zs, cbp_luma)
    _recon_chroma_blocks(
        st, mbx, mby, qp, 0, [pred_u, pred_v], cdcq, cacq
    )
    return 0


def _decode_p_mb(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, qp: int,
    cqo: int, ref: tuple[np.ndarray, np.ndarray, np.ndarray],
    refs: list | None = None, n_ref: int = 1, wp: dict | None = None,
) -> None:
    mb_type = r.ue()
    if mb_type >= 5:
        # Table 7-13: intra macroblock types offset by 5 in P slices
        st.inter[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.mv[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        _decode_mb(r, st, mbx, mby, qp, cqo, mb_type=mb_type - 5)
        return
    refs_l = refs if refs is not None else [ref]
    if mb_type in (3, 4):
        # P_8x8 / P_8x8ref0: four sub_mb_types first (§7.3.5.2), then
        # per-quadrant ref_idx_l0 (only P_8x8 with >1 active ref —
        # P_8x8ref0 pins every index to 0), then every sub-partition's
        # mvd in order
        sub_types = [r.ue() for _ in range(4)]
        if any(t_ > 3 for t_ in sub_types):
            raise MediaFormatError("invalid P sub_mb_type")
        q_refs = [0, 0, 0, 0]
        if n_ref > 1 and mb_type == 3:
            q_refs = [r.te(n_ref - 1) for _ in range(4)]
            if any(ri >= n_ref for ri in q_refs):
                raise MediaFormatError("ref_idx_l0 out of range")
        parts, mvs, refidxs = [], [], []
        for q8, (qx, qy) in enumerate(_P8_QUADS):
            for sdx, sdy, pw, ph in _P_SUB_PARTS[sub_types[q8]]:
                part = ("sub", qx + sdx, qy + sdy, pw, ph)
                pmv = _pred_mv(
                    st, mbx * 4 + part[1], mby * 4 + part[2], pw, "sub",
                    ref_idx=q_refs[q8],
                )
                mv = (pmv[0] + r.se(), pmv[1] + r.se())
                mvs.append(mv)
                parts.append(part)
                refidxs.append(q_refs[q8])
                _store_part_mv(st, mbx, mby, part, mv, ref_idx=q_refs[q8])
    else:
        parts = _P_PARTS[mb_type]
        refidxs = [0] * len(parts)
        if n_ref > 1:
            refidxs = [r.te(n_ref - 1) for _ in parts]
            if any(ri >= n_ref for ri in refidxs):
                raise MediaFormatError("ref_idx_l0 out of range")
        mvs = []
        for part, ri in zip(parts, refidxs):
            kind, dx, dy, pw, _ = part
            pmv = _pred_mv(
                st, mbx * 4 + dx, mby * 4 + dy, pw, kind, ref_idx=ri
            )
            mv = (pmv[0] + r.se(), pmv[1] + r.se())
            mvs.append(mv)
            _store_part_mv(st, mbx, mby, part, mv, ref_idx=ri)
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    code = r.ue()
    if code >= len(_CBP_INTER):
        raise MediaFormatError("coded_block_pattern code out of range")
    cbp = _CBP_INTER[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma > 2:
        raise MediaFormatError("invalid chroma coded_block_pattern")
    if cbp and r.se() != 0:
        raise MediaFormatError("mb_qp_delta outside the fixed-QP subset")
    zs = []
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if cbp_luma & (1 << (blk // 4)):
            coeffs, total = decode_residual(r, st.nc_luma(abx, aby), 16)
            st.nc_y[aby, abx] = total
            zs.append(_unzigzag(coeffs, skip_dc=False))
        else:
            st.nc_y[aby, abx] = 0
            zs.append(np.zeros((4, 4), dtype=np.int64))
    cdc, cac = _read_chroma_residuals(r, st, mbx, mby, cbp_chroma)
    pred_y, pred_u, pred_v = _mc_mb_pred(
        refs_l if refs is not None else ref, mbx, mby, parts, mvs,
        refidxs, wp=wp,
    )
    _recon_inter_luma(st, mbx, mby, qp, pred_y, zs, cbp_luma)
    _recon_chroma_blocks(
        st, mbx, mby, qp, cqo, [pred_u, pred_v], cdc, cac
    )


def _decode_p_slice_mbs(
    r: _BitReader, st: _FrameState, qp: int, cqo: int,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray],
    refs: list | None = None, n_ref: int = 1, wp: dict | None = None,
    first_mb: int = 0, until_end: bool = False,
) -> int:
    n_mbs = st.mb_w * st.mb_h
    i = first_mb
    while i < n_mbs:
        if until_end and i > first_mb and r.byte_aligned_stop():
            break  # the slice's own rbsp end bounds it (§7.3.4)
        run = r.ue()  # mb_skip_run
        if run > n_mbs - i:
            raise MediaFormatError("mb_skip_run overruns the picture")
        for _ in range(run):
            st.slice_id[i // st.mb_w, i % st.mb_w] = st.cur_slice
            _recon_p_skip(st, i % st.mb_w, i // st.mb_w, ref, wp=wp)
            i += 1
        if i >= n_mbs:
            break
        if until_end and run and r.byte_aligned_stop():
            break  # slice ended on a trailing skip run
        st.slice_id[i // st.mb_w, i % st.mb_w] = st.cur_slice
        _decode_p_mb(
            r, st, i % st.mb_w, i // st.mb_w, qp, cqo, ref,
            refs=refs, n_ref=n_ref, wp=wp,
        )
        i += 1
    return i


_B_MODE_MBTYPE = {"l0": 1, "l1": 2, "bi": 3}  # Table 7-14
_B_MBTYPE_MODE = {v: k for k, v in _B_MODE_MBTYPE.items()}

# Table 7-14 two-partition B types (round 13): mb_type 4 + 2*i (+1 for
# the 8x16 variant) → the (first, second) partition prediction modes,
# pairs in spec order
_B_PART_PAIRS = (
    ("l0", "l0"), ("l1", "l1"), ("l0", "l1"), ("l1", "l0"),
    ("l0", "bi"), ("l1", "bi"), ("bi", "l0"), ("bi", "l1"),
    ("bi", "bi"),
)
_B_PAIR_MBTYPE = {
    (pair, shape): 4 + 2 * i + (0 if shape == 1 else 1)
    for i, pair in enumerate(_B_PART_PAIRS)
    for shape in (1, 2)
}

# Table 7-18 B sub_mb_type → (prediction mode, _P_SUB_PARTS shape key);
# mode None = B_Direct_8x8
_B_SUB_TYPES = {
    0: (None, 0),
    1: ("l0", 0), 2: ("l1", 0), 3: ("bi", 0),
    4: ("l0", 1), 5: ("l0", 2), 6: ("l1", 1), 7: ("l1", 2),
    8: ("bi", 1), 9: ("bi", 2),
    10: ("l0", 3), 11: ("l1", 3), 12: ("bi", 3),
}
_B_SUB_ENC = {v: k for k, v in _B_SUB_TYPES.items()}


def _store_b_part_lst(
    st: _FrameState, mbx: int, mby: int, part, lst: int,
    mv, ri: int,
) -> None:
    """Store one B partition's motion for ONE list (round 13: the
    partitioned B syntax orders every mvd_l0 before any mvd_l1, so
    list states must land progressively — a later partition's list-0
    predictor reads the earlier partition's list-0 motion before
    either one's list-1 motion exists)."""
    _, dx, dy, pw, ph = part
    bx, by = mbx * 4 + dx, mby * 4 + dy
    st.inter[by : by + ph, bx : bx + pw] = True
    if lst:
        st.uses1[by : by + ph, bx : bx + pw] = True
        st.mv1[by : by + ph, bx : bx + pw] = mv
        st.ref1[by : by + ph, bx : bx + pw] = ri
    else:
        st.uses0[by : by + ph, bx : bx + pw] = True
        st.mv[by : by + ph, bx : bx + pw] = mv
        st.ref0[by : by + ph, bx : bx + pw] = ri


def _store_b_direct_quad(
    st: _FrameState, mbx: int, mby: int, qx: int, qy: int,
    use0, use1, quad,
) -> None:
    """Store ONE 8x8 quadrant's direct-derived motion (B_Direct_8x8
    inside B_8x8).  ``qx``/``qy`` are the quadrant's BLOCK offsets
    within the MB (0 or 2 — _P8_QUADS coordinates)."""
    mv0, mv1, r0, r1 = quad
    bx, by = mbx * 4 + qx, mby * 4 + qy
    st.inter[by : by + 2, bx : bx + 2] = True
    if use0:
        st.uses0[by : by + 2, bx : bx + 2] = True
        st.mv[by : by + 2, bx : bx + 2] = mv0
        st.ref0[by : by + 2, bx : bx + 2] = r0
    if use1:
        st.uses1[by : by + 2, bx : bx + 2] = True
        st.mv1[by : by + 2, bx : bx + 2] = mv1
        st.ref1[by : by + 2, bx : bx + 2] = r1


def _mc_b_parts(ctx, mbx: int, mby: int, plist):
    """Assemble the 16x16 luma + 8x8 chroma prediction for a
    PARTITIONED B macroblock from per-partition (geometry, mode, mv0,
    mv1, refIdxL0, refIdxL1) entries — single-list MC or the §8.4.2.3
    default bi average per partition."""
    pred_y = np.empty((16, 16), dtype=np.int64)
    pred_u = np.empty((8, 8), dtype=np.int64)
    pred_v = np.empty((8, 8), dtype=np.int64)
    for (kind, dx, dy, pw, ph), mode, mv0, mv1, r0, r1 in plist:
        lx, ly, lw, lh = dx * 4, dy * 4, pw * 4, ph * 4
        cx, cy, cw, ch = dx * 2, dy * 2, pw * 2, ph * 2
        planes = []
        ents = []
        for use, lst_refs, ri, mv, lst in (
            (mode in ("l0", "bi"), ctx["l0"], r0, mv0, 0),
            (mode in ("l1", "bi"), ctx["l1"], r1, mv1, 1),
        ):
            if not use:
                continue
            ry, ru, rv = lst_refs[ri]
            planes.append((
                _mc_luma(ry, mbx * 16 + lx, mby * 16 + ly, lw, lh,
                         mv[0], mv[1]),
                _mc_chroma(ru, mbx * 8 + cx, mby * 8 + cy, cw, ch,
                           mv[0], mv[1]),
                _mc_chroma(rv, mbx * 8 + cx, mby * 8 + cy, cw, ch,
                           mv[0], mv[1]),
            ))
            ents.append(_b_wp_ents(ctx, lst, ri))
        py, pu, pv = _b_combine(planes, ents, ctx.get("wp"))
        pred_y[ly : ly + lh, lx : lx + lw] = py
        pred_u[cy : cy + ch, cx : cx + cw] = pu
        pred_v[cy : cy + ch, cx : cx + cw] = pv
    return pred_y, pred_u, pred_v


def _motion_snapshot(st: _FrameState) -> dict:
    """The per-4x4 motion state a DECODED reference picture leaves
    behind, kept by callers for direct prediction's colocated-motion
    access: spatial's colZeroFlag reads RefPicList1[0]'s inter/mv
    state (§8.4.1.2.2); TEMPORAL direct (round 13, §8.4.1.2.3)
    additionally reads the colocated block's reference index and that
    picture's L0 POCs to identify refPicCol."""
    return {
        "inter": st.inter.copy(),
        "uses0": st.uses0.copy(),
        "mv": st.mv.copy(),
        "ref0": st.ref0.copy(),
        "l0_pocs": st.l0_pocs,
    }


def _intra_motion(mb_w: int, mb_h: int) -> dict:
    """Motion snapshot of an all-intra (IDR) picture: every colocated
    block reads as intra (refIdxCol -1), so colZeroFlag is 0."""
    return {
        "inter": np.zeros((mb_h * 4, mb_w * 4), dtype=bool),
        "uses0": np.zeros((mb_h * 4, mb_w * 4), dtype=bool),
        "mv": np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32),
        "ref0": np.zeros((mb_h * 4, mb_w * 4), dtype=np.int32),
        "l0_pocs": None,
    }


_B_QUADS = ((0, 0), (1, 0), (0, 1), (1, 1))  # (qx, qy) raster order


def _b_ctx(
    l0: list, direct_spatial: bool = True, col: dict | None = None,
    l0_pocs=None, poc: int | None = None,
    n_ref_l0: int | None = None, n_ref_l1: int = 1,
    ref_lts: list | None = None,
    wpb: dict | None = None,
):
    """The B-slice prediction context threaded through every B
    macroblock: RefPicList0 (``l0``, most recent reference first) and
    the §8.2.4.2.3 default RefPicList1 (L0 with the first two entries
    swapped — all references precede the picture in the low-delay
    subset, so both initial lists are POC-descending and the swap rule
    applies; long-terms order AFTER the short-terms by ascending
    LongTermFrameIdx, which is the _Dpb storage order, so identity
    holds with a pinned picture too), the direct mode,
    RefPicList1[0]'s motion snapshot, and the full POCs temporal
    direct and the deblock picture-identity rule read.  ``ref_lts``
    (round 14, long-term B support) carries each entry's
    LongTermFrameIdx (None = short-term): spatial direct suppresses
    colZeroFlag when RefPicList1[0] is long-term and temporal direct
    copies mvCol unscaled when RefPicList0[refIdxL0] is long-term
    (§8.4.1.2.2 / §8.4.1.2.3)."""
    l1 = [l0[1], l0[0]] + list(l0[2:])
    l1_pocs = None
    if l0_pocs is not None:
        l0_pocs = tuple(l0_pocs)
        l1_pocs = (l0_pocs[1], l0_pocs[0]) + tuple(l0_pocs[2:])
    l0_lts = l1_lts = None
    if ref_lts is not None:
        l0_lts = tuple(ref_lts)
        l1_lts = (l0_lts[1], l0_lts[0]) + tuple(l0_lts[2:])
    return {
        "l0": list(l0),
        "l1": l1,
        # the header's no-override default is ONE active reference per
        # list (this PPS writes 0 for both defaults) — callers opening
        # wider lists pass the parsed/emitted count explicitly
        "n_ref_l0": n_ref_l0 if n_ref_l0 is not None else 1,
        "n_ref_l1": n_ref_l1,
        "direct_spatial": direct_spatial,
        "col": col,
        "l0_pocs": l0_pocs,
        "l1_pocs": l1_pocs,
        "l0_lts": l0_lts,
        "l1_lts": l1_lts,
        "poc": poc,
        # §8.4.2.3.2 explicit B weights (round 15): {"ld","cd","w0",
        # "w1"} or None — every B prediction path reads it
        "wp": wpb,
    }


def _b_direct_spatial(st: _FrameState, mbx: int, mby: int, ctx: dict):
    """§8.4.1.2.2 spatial direct derivation for one 16x16 MB:
    refIdxLX = the MinPositive neighbour refIdx per list; when NEITHER
    list has a reference, direct-zero-prediction makes the MB bi with
    zero MVs; otherwise each used list takes the §8.4.1.3 median
    predictor for that refIdx, zeroed PER 8x8 QUADRANT when refIdxLX
    is 0 and the colocated corner block in RefPicList1[0]
    (direct_8x8_inference corners 0/3/12/15) is inter with refIdx 0
    and |mvCol| ≤ 1 in both components (colZeroFlag — which §8.4.1.2.2
    additionally requires RefPicList1[0] to be a SHORT-TERM reference
    picture: a long-term colocated picture forces colZeroFlag 0,
    round 14).  Returns
    (use0, use1, [(mv0, mv1, r0, r1)] × 4 quadrants)."""
    col = ctx["col"]
    l1_lts = ctx.get("l1_lts")
    if l1_lts is not None and l1_lts[0] is not None:
        # RefPicList1[0] is long-term → colZeroFlag is 0 everywhere;
        # the colocated motion is never consulted
        col = None
    abx, aby = mbx * 4, mby * 4
    ref = []
    for lst in (0, 1):
        a, b, c = _b_nbrs(st, mbx, mby, lst)
        cand = [n[3] for n in (a, b, c) if n[1]]
        ref.append(min(cand) if cand else -1)
    r0, r1 = ref
    if r0 < 0 and r1 < 0:
        # directZeroPredictionFlag: both lists, zero motion everywhere
        return True, True, [((0, 0), (0, 0), 0, 0)] * 4
    use0, use1 = r0 >= 0, r1 >= 0
    mv0 = _pred_mv_b(st, mbx, mby, 0, ref_idx=r0) if use0 else (0, 0)
    mv1 = _pred_mv_b(st, mbx, mby, 1, ref_idx=r1) if use1 else (0, 0)
    parts = []
    for qx, qy in _B_QUADS:
        colzero = False
        if col is not None:
            cbx = abx + (3 if qx else 0)
            cby = aby + (3 if qy else 0)
            if (
                col["inter"][cby, cbx]
                and col["uses0"][cby, cbx]
                and int(col.get("ref0", _Z)[cby, cbx]) == 0
            ):
                mcx = int(col["mv"][cby, cbx, 0])
                mcy = int(col["mv"][cby, cbx, 1])
                colzero = abs(mcx) <= 1 and abs(mcy) <= 1
        parts.append(
            (
                (0, 0) if (colzero and use0 and r0 == 0) else mv0,
                (0, 0) if (colzero and use1 and r1 == 0) else mv1,
                max(r0, 0),
                max(r1, 0),
            )
        )
    return use0, use1, parts


class _ZeroGrid:
    """Fallback colocated-refIdx grid for snapshots predating the
    ref0 key (always 0 — the single-reference invariant they hold)."""

    def __getitem__(self, _):
        return 0


_Z = _ZeroGrid()


def _b_direct_temporal(st: _FrameState, mbx: int, mby: int, ctx: dict):
    """§8.4.1.2.3 TEMPORAL direct derivation (round 13) for one 16x16
    MB, per 8x8 quadrant (direct_8x8_inference corners): the colocated
    block in RefPicList1[0] supplies mvCol and (via its own L0 POCs)
    the picture refPicCol; refIdxL0 maps refPicCol into the CURRENT
    list 0 (lowest index — default-ordered lists, so by POC);
    refIdxL1 = 0; then with tb = Clip3(-128, 127, poc(cur) -
    poc(refPicCol)) and td = Clip3(-128, 127, poc(colPic) -
    poc(refPicCol)):

        tx  = (16384 + Abs(td/2)) / td          (toward-zero division)
        dsf = Clip3(-1024, 1023, (tb*tx + 32) >> 6)
        mvL0 = (dsf * mvCol + 128) >> 8          (arithmetic shift)
        mvL1 = mvL0 - mvCol

    An intra colocated block contributes zero motion with refIdxL0 0
    (§8.4.1.2.3's refIdxCol < 0 branch); td == 0 degenerates to
    mvL0 = mvCol, mvL1 = 0, and so does a LONG-TERM
    RefPicList0[refIdxL0] (round 14 — the spec's long-term branch:
    no POC distance is defined for a pinned picture, so the motion
    copies unscaled).  Temporal direct NEEDS picture order:
    callers without full POCs (or whose colocated snapshot predates
    POC tracking) quarantine rather than guess."""
    col, cur = ctx["col"], ctx["poc"]
    l0_pocs = ctx["l0_pocs"]
    if cur is None or l0_pocs is None:
        raise MediaFormatError(
            "temporal direct without picture order context"
        )
    col_l0p = col.get("l0_pocs") if col is not None else None
    colpic_poc = ctx["l1_pocs"][0]
    parts = []
    for qx, qy in _B_QUADS:
        cbx = mbx * 4 + (3 if qx else 0)
        cby = mby * 4 + (3 if qy else 0)
        if (
            col is None
            or not col["inter"][cby, cbx]
            or not col["uses0"][cby, cbx]
        ):
            parts.append(((0, 0), (0, 0), 0, 0))
            continue
        rcol = int(col.get("ref0", _Z)[cby, cbx])
        if col_l0p is None or rcol >= len(col_l0p):
            raise MediaFormatError(
                "temporal direct: colocated reference picture unknown"
            )
        ref_poc = col_l0p[rcol]
        try:
            r0 = l0_pocs.index(ref_poc)
        except ValueError:
            raise MediaFormatError(
                "temporal direct: colocated reference not in "
                "RefPicList0"
            )
        if r0 >= ctx["n_ref_l0"]:
            raise MediaFormatError(
                "temporal direct: mapped refIdxL0 beyond the active "
                "list"
            )
        mvcol = (int(col["mv"][cby, cbx, 0]), int(col["mv"][cby, cbx, 1]))
        l0_lts = ctx.get("l0_lts")
        ref_is_lt = l0_lts is not None and l0_lts[r0] is not None
        td = max(-128, min(127, colpic_poc - ref_poc))
        tb = max(-128, min(127, cur - ref_poc))
        if ref_is_lt or td == 0:
            # §8.4.1.2.3: a long-term RefPicList0[refIdxL0] (or zero
            # POC distance) copies the colocated motion unscaled
            mv0, mv1 = mvcol, (0, 0)
        else:
            num = 16384 + abs(td) // 2
            tx = num // td if td > 0 else -(num // -td)
            dsf = max(-1024, min(1023, (tb * tx + 32) >> 6))
            mv0 = ((dsf * mvcol[0] + 128) >> 8,
                   (dsf * mvcol[1] + 128) >> 8)
            mv1 = (mv0[0] - mvcol[0], mv0[1] - mvcol[1])
        parts.append((mv0, mv1, r0, 0))
    return True, True, parts


def _b_direct_mvs(st: _FrameState, mbx: int, mby: int, ctx: dict):
    """Direct-mode dispatch: spatial (§8.4.1.2.2) or temporal
    (§8.4.1.2.3) per the slice header flag.  Returns (use0, use1,
    [(mv0, mv1, refIdxL0, refIdxL1)] × 4 quadrants)."""
    if ctx["direct_spatial"]:
        return _b_direct_spatial(st, mbx, mby, ctx)
    return _b_direct_temporal(st, mbx, mby, ctx)


def _mc_direct_pred(ctx, mbx: int, mby: int, use0, use1, parts):
    """Assemble the 16x16 luma + 8x8 chroma direct prediction from the
    four 8x8 quadrants' per-list MVs and reference indices (bi average
    when both lists)."""
    pred_y = np.empty((16, 16), dtype=np.int64)
    pred_u = np.empty((8, 8), dtype=np.int64)
    pred_v = np.empty((8, 8), dtype=np.int64)
    for (qx, qy), (mv0, mv1, r0, r1) in zip(_B_QUADS, parts):
        lx, ly = qx * 8, qy * 8
        cx, cy = qx * 4, qy * 4
        planes = []
        ents = []
        for use, ref, mv, lst, ri in (
            (use0, ctx["l0"][r0] if use0 else None, mv0, 0, r0),
            (use1, ctx["l1"][r1] if use1 else None, mv1, 1, r1),
        ):
            if not use:
                continue
            ry, ru, rv = ref
            planes.append((
                _mc_luma(ry, mbx * 16 + lx, mby * 16 + ly, 8, 8,
                         mv[0], mv[1]),
                _mc_chroma(ru, mbx * 8 + cx, mby * 8 + cy, 4, 4,
                           mv[0], mv[1]),
                _mc_chroma(rv, mbx * 8 + cx, mby * 8 + cy, 4, 4,
                           mv[0], mv[1]),
            ))
            ents.append(_b_wp_ents(ctx, lst, ri))
        py, pu, pv = _b_combine(planes, ents, ctx.get("wp"))
        pred_y[ly : ly + 8, lx : lx + 8] = py
        pred_u[cy : cy + 4, cx : cx + 4] = pu
        pred_v[cy : cy + 4, cx : cx + 4] = pv
    return pred_y, pred_u, pred_v


def _store_b_direct_mv(
    st: _FrameState, mbx: int, mby: int, use0, use1, parts
) -> None:
    bx, by = mbx * 4, mby * 4
    st.inter[by : by + 4, bx : bx + 4] = True
    st.uses0[by : by + 4, bx : bx + 4] = use0
    st.uses1[by : by + 4, bx : bx + 4] = use1
    for (qx, qy), (mv0, mv1, r0, r1) in zip(_B_QUADS, parts):
        qbx, qby = bx + qx * 2, by + qy * 2
        if use0:
            st.mv[qby : qby + 2, qbx : qbx + 2] = mv0
            st.ref0[qby : qby + 2, qbx : qbx + 2] = r0
        if use1:
            st.mv1[qby : qby + 2, qbx : qbx + 2] = mv1
            st.ref1[qby : qby + 2, qbx : qbx + 2] = r1
    st.i4_mode[by : by + 4, bx : bx + 4] = 2


def _recon_b_skip(
    st: _FrameState, mbx: int, mby: int, ctx: dict
) -> None:
    """B_Skip: direct prediction (spatial or temporal per the slice
    header), nothing coded."""
    use0, use1, parts = _b_direct_mvs(st, mbx, mby, ctx)
    pred_y, pred_u, pred_v = _mc_direct_pred(
        ctx, mbx, mby, use0, use1, parts
    )
    x0, y0 = mbx * 16, mby * 16
    st.y[y0 : y0 + 16, x0 : x0 + 16] = pred_y
    cx0, cy0 = mbx * 8, mby * 8
    st.u[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_u
    st.v[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_v
    _store_b_direct_mv(st, mbx, mby, use0, use1, parts)
    st.nc_y[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
    for comp in range(2):
        st.nc_c[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0


def _b_part_decide(
    st: _FrameState, mbx: int, mby: int, src_blk, x0, y0, ctx,
    pmv0, pmv1, direct, d_pred,
):
    """Partitioned-B encoder decision (round 13): per-partition list
    choice for the 16x8/8x16 pairs, then per-quadrant modes (direct /
    l0 / l1 / bi, with a 4x4 split attempt inside the chosen mode)
    for B_8x8.  Returns {"cost", "kind2", "mb_type", "sub_types",
    "modes", "mvs", "parts_g", "quads", "plist"} or None.  refIdx is
    always 0 (encoder rate choice; decode accepts any)."""
    l0y, l1y = ctx["l0"][0][0], ctx["l1"][0][0]

    def bi_cost(dx, dy, bw, bh, m0, m1):
        sub = src_blk[dy : dy + bh, dx : dx + bw]
        pb0 = _mc_luma(
            l0y, x0 + dx, y0 + dy, bw, bh, m0[0], m0[1]
        ).astype(np.int64)
        pb1 = _mc_luma(
            l1y, x0 + dx, y0 + dy, bw, bh, m1[0], m1[1]
        ).astype(np.int64)
        return int(np.abs(sub - ((pb0 + pb1 + 1) >> 1)).sum())

    best = None
    for shape in (1, 2):
        parts_g = _P_PARTS[shape]
        modes, mvs, total = [], [], 12
        for kind, dx, dy, pw, ph in parts_g:
            m0, c0p = _motion_search(
                l0y, src_blk, x0, y0, pmv0, dx * 4, dy * 4,
                pw * 4, ph * 4,
            )
            m1, c1p = _motion_search(
                l1y, src_blk, x0, y0, pmv1, dx * 4, dy * 4,
                pw * 4, ph * 4,
            )
            cbip = bi_cost(dx * 4, dy * 4, pw * 4, ph * 4, m0, m1) + 10
            pmode, pc = min(
                (("l0", c0p + 2), ("l1", c1p + 2), ("bi", cbip)),
                key=lambda t: t[1],
            )
            modes.append(pmode)
            mvs.append((m0, m1))
            total += pc
        if best is None or total < best["cost"]:
            parts_list = list(parts_g)
            plist = [
                (part, mode, m0, m1, 0, 0)
                for part, mode, (m0, m1) in zip(
                    parts_list, modes, mvs
                )
            ]
            best = {
                "cost": total, "kind2": "two",
                "mb_type": _B_PAIR_MBTYPE[(tuple(modes), shape)],
                "modes": modes, "mvs": mvs, "parts_g": parts_list,
                "plist": plist,
            }
    if best["cost"] > 1200:
        use0, use1, dparts = direct
        dmode = "bi" if use0 and use1 else ("l0" if use0 else "l1")
        sub_types, quads, plist8, total8 = [], [], [], 20
        for q8, (qx, qy) in enumerate(_P8_QUADS):
            sub = src_blk[qy * 4 : qy * 4 + 8, qx * 4 : qx * 4 + 8]
            ddir = int(
                np.abs(
                    sub
                    - d_pred[0][qy * 4 : qy * 4 + 8, qx * 4 : qx * 4 + 8]
                ).sum()
            )
            m0, c0q = _motion_search(
                l0y, src_blk, x0, y0, pmv0, qx * 4, qy * 4, 8, 8
            )
            m1, c1q = _motion_search(
                l1y, src_blk, x0, y0, pmv1, qx * 4, qy * 4, 8, 8
            )
            cbiq = bi_cost(qx * 4, qy * 4, 8, 8, m0, m1) + 10
            qmode, qc = min(
                (("direct", ddir), ("l0", c0q + 4), ("l1", c1q + 4),
                 ("bi", cbiq)),
                key=lambda t: t[1],
            )
            if qmode == "direct":
                quad = dparts[(qy // 2) * 2 + qx // 2]
                sub_types.append(0)
                quads.append(("direct", [], []))
                plist8.append((
                    ("sub", qx, qy, 2, 2), dmode,
                    quad[0], quad[1], quad[2], quad[3],
                ))
                total8 += qc
                continue
            shape8, geom_mvs = 0, [(("sub", qx, qy, 2, 2), (m0, m1))]
            if qc > 400:
                # 4x4 split inside the chosen mode's list(s)
                split, csplit = [], 16
                for sdx, sdy, pw, ph in _P_SUB_PARTS[3]:
                    g = ("sub", qx + sdx, qy + sdy, pw, ph)
                    s0, s1 = m0, m1
                    c4 = 0
                    if qmode in ("l0", "bi"):
                        s0, c0s = _motion_search(
                            l0y, src_blk, x0, y0, m0,
                            (qx + sdx) * 4, (qy + sdy) * 4, 4, 4,
                        )
                        c4 += c0s
                    if qmode in ("l1", "bi"):
                        s1, c1s = _motion_search(
                            l1y, src_blk, x0, y0, m1,
                            (qx + sdx) * 4, (qy + sdy) * 4, 4, 4,
                        )
                        c4 += c1s
                    if qmode == "bi":
                        c4 = bi_cost(
                            (qx + sdx) * 4, (qy + sdy) * 4, 4, 4, s0, s1
                        ) + 8
                    split.append((g, (s0, s1)))
                    csplit += c4
                if csplit < qc:
                    shape8, geom_mvs, qc = 3, split, csplit
            sub_types.append(_B_SUB_ENC[(qmode, shape8)])
            quads.append((qmode, [g for g, _ in geom_mvs],
                          [mv for _, mv in geom_mvs]))
            for g, (s0, s1) in geom_mvs:
                plist8.append((g, qmode, s0, s1, 0, 0))
            total8 += qc
        if total8 < best["cost"]:
            best = {
                "cost": total8, "kind2": "b8", "mb_type": 22,
                "sub_types": sub_types, "quads": quads,
                "direct": direct, "plist": plist8,
            }
    return best


def _b_mb_decide(
    st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    ctx: dict,
) -> tuple[str, dict | None]:
    """Entropy-agnostic B-macroblock decision: the direct candidate
    (spatial or temporal per the slice header — no motion bits at
    all), one 16x16 motion search per reference list (refIdx 0 — the
    encoder's choice; the DECODER accepts any active index), a
    bi-predictive average of the two winners, and the intra fallback.
    Mirrors _p_mb_decide's contract."""
    x0, y0 = mbx * 16, mby * 16
    src_blk = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
    # --- direct candidate (mvd-free; small rate edge)
    use0, use1, parts = _b_direct_mvs(st, mbx, mby, ctx)
    d_pred = _mc_direct_pred(ctx, mbx, mby, use0, use1, parts)
    c_dir = int(np.abs(src_blk - d_pred[0]).sum())
    pmv0 = _pred_mv_b(st, mbx, mby, 0)
    pmv1 = _pred_mv_b(st, mbx, mby, 1)
    mv0, c0 = _motion_search(ctx["l0"][0][0], src_blk, x0, y0, pmv0)
    mv1, c1 = _motion_search(ctx["l1"][0][0], src_blk, x0, y0, pmv1)
    p0_bi = _mc_luma(
        ctx["l0"][0][0], x0, y0, 16, 16, mv0[0], mv0[1]
    ).astype(np.int64)
    p1_bi = _mc_luma(
        ctx["l1"][0][0], x0, y0, 16, 16, mv1[0], mv1[1]
    ).astype(np.int64)
    wp_d = ctx.get("wp")
    if wp_d is not None and wp_d.get("implicit"):
        # round 16: under IMPLICIT weighting the bi candidate's
        # decision SAD must reflect the §8.4.2.3.1 weights the actual
        # prediction will use — with the plain average the encoder
        # almost never PICKS bi on a fade, and the mode the weights
        # exist for goes uncoded (encoder-only; explicit idc 1 keeps
        # the round-15 unweighted-SAD decision, byte-stable streams)
        w0_d, w1_d = wp_d["tab"].get((0, 0), (32, 32))
        p_bi = np.clip((p0_bi * w0_d + p1_bi * w1_d + 32) >> 6, 0, 255)
    else:
        p_bi = (p0_bi + p1_bi + 1) >> 1
    c_bi = int(np.abs(src_blk - p_bi).sum()) + 2 * (
        abs(mv0[0] - pmv0[0]) + abs(mv0[1] - pmv0[1])
        + abs(mv1[0] - pmv1[0]) + abs(mv1[1] - pmv1[1])
    ) + 8  # second mvd's rate
    # deterministic preference order on ties: direct (cheapest syntax)
    # first, then l0/l1/bi
    mode, cost = min(
        (("direct", c_dir), ("l0", c0 + 4), ("l1", c1 + 4),
         ("bi", c_bi + 4)),
        key=lambda t: t[1],
    )
    # --- partitioned candidates (round 13): tried only when the
    # whole-MB modes leave high residual — per-partition list choice
    # (16x8/8x16 two-partition types), then per-8x8-quadrant modes
    # with optional 4x4 splits (B_8x8)
    part_cand = None
    if cost > 800:
        part_cand = _b_part_decide(
            st, mbx, mby, src_blk, x0, y0, ctx, pmv0, pmv1,
            (use0, use1, parts), d_pred,
        )
        if part_cand is not None and part_cand["cost"] < cost:
            mode, cost = "parts", part_cand["cost"]
    if ctx.get("direct_lt_bias") and mode != "direct":
        # encoder-side mode-decision bias (round 14, longterm chain):
        # when the direct derivation pulls NONZERO motion through a
        # LONG-TERM RefPicList0 entry, prefer direct over a marginally
        # cheaper explicit mode (≤25% SAD edge).  A pure translation
        # makes single-reference explicit prediction exactly as good
        # as direct, so without the bias no conforming stream of this
        # encoder would ever CODE the §8.4.1.2.3 long-term branch —
        # the bias is ordinary encoder freedom (the decoder is
        # untouched) and the closed loop stays exact either way.
        lt0 = ctx.get("l0_lts")
        touches_lt = use0 and lt0 is not None and any(
            p[0] != (0, 0) and lt0[p[2]] is not None for p in parts
        )
        if touches_lt and c_dir <= cost * 5 // 4:
            mode, cost = "direct", c_dir
    avail_l16, avail_t16 = _avail_lt(st, mbx, mby)
    legal = [L16_DC]
    if avail_t16:
        legal.append(L16_VERTICAL)
    if avail_l16:
        legal.append(L16_HORIZONTAL)
    intra_sad = min(
        int(np.abs(
            src_blk - _pred_luma16(m, st.y, mbx, mby, st=st)
        ).sum())
        for m in legal
    )
    if intra_sad + 24 < cost:
        return "intra", None
    if mode == "direct":
        pred_y, pred_u, pred_v = d_pred
    elif mode == "parts":
        pred_y, pred_u, pred_v = _mc_b_parts(
            ctx, mbx, mby, part_cand["plist"]
        )
    else:
        pred_y, pred_u, pred_v = _mc_b_pred(
            ctx, mbx, mby, mode, mv0, mv1
        )
    zs, cbp_luma = _inter_luma_quant(src_y, pred_y, mbx, mby, qp)
    qpc = _QPC[max(0, min(51, qp))]
    cx0, cy0 = mbx * 8, mby * 8
    cres = [
        src[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64) - pred
        for src, pred in ((src_u, pred_u), (src_v, pred_v))
    ]
    cbp_chroma, cdcq, cacq = _chroma_transform_quant(cres, qpc, intra=False)
    if mode == "direct" and cbp_luma == 0 and cbp_chroma == 0:
        return "skip", None  # B_Skip: direct prediction, nothing coded
    return "inter", {
        "mode": mode,
        "mv0": mv0,
        "mv1": mv1,
        "direct": (use0, use1, parts),
        "part": part_cand if mode == "parts" else None,
        "zs": zs,
        "cbp_luma": cbp_luma,
        "cbp_chroma": cbp_chroma,
        "cdcq": cdcq,
        "cacq": cacq,
        "preds": (pred_y, pred_u, pred_v),
    }


def _b_mb_finish(
    st: _FrameState, mbx: int, mby: int, qp: int, cqo: int, d: dict
) -> None:
    """Shared state update + reconstruction for a coded B inter MB
    (encoder closed loop and decoder run the identical math)."""
    mode = d["mode"]
    if mode == "direct":
        _store_b_direct_mv(st, mbx, mby, *d["direct"])
    else:
        _store_b_mv(
            st, mbx, mby, d["mv0"], d["mv1"],
            mode in ("l0", "bi"), mode in ("l1", "bi"),
            d.get("r0", 0), d.get("r1", 0),
        )
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    pred_y, pred_u, pred_v = d["preds"]
    _recon_inter_luma(st, mbx, mby, qp, pred_y, d["zs"], d["cbp_luma"])
    _recon_chroma_blocks(
        st, mbx, mby, qp, cqo, [pred_u, pred_v], d["cdcq"], d["cacq"]
    )


def _encode_b_mb(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, qp: int,
    src_y: np.ndarray, src_u: np.ndarray, src_v: np.ndarray,
    ctx: dict, skip_run: int,
) -> int:
    """Encode one B macroblock; returns the updated mb_skip_run
    (incremented when this MB became B_Skip, flushed before a coded
    MB — the same contract as _encode_p_mb)."""
    kind, d = _b_mb_decide(
        st, mbx, mby, qp, src_y, src_u, src_v, ctx
    )
    if kind == "skip":
        _recon_b_skip(st, mbx, mby, ctx)
        return skip_run + 1
    w.ue(skip_run)
    if kind == "intra":
        _encode_mb(w, st, mbx, mby, qp, src_y, src_u, src_v, mtype_off=23)
        st.inter[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.uses0[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.uses1[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.mv[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        st.mv1[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        return 0
    mode = d["mode"]
    if mode == "parts":
        _emit_b_part_pred(w, st, mbx, mby, ctx, d["part"])
    else:
        w.ue(0 if mode == "direct" else _B_MODE_MBTYPE[mode])
        # mb_pred (§7.3.5.1): B_Direct_16x16 carries NO motion syntax
        # at all; otherwise ref_idx_lX te(v) per used list (only with
        # >1 active reference — the encoder always picks index 0, a
        # rate choice, while the decoder accepts any), then mvd_l0,
        # then mvd_l1
        if mode != "direct":
            if ctx["n_ref_l0"] > 1 and mode in ("l0", "bi"):
                w.te(0, ctx["n_ref_l0"] - 1)
            if ctx["n_ref_l1"] > 1 and mode in ("l1", "bi"):
                w.te(0, ctx["n_ref_l1"] - 1)
        if mode in ("l0", "bi"):
            pmv0 = _pred_mv_b(st, mbx, mby, 0)
            w.se(d["mv0"][0] - pmv0[0])
            w.se(d["mv0"][1] - pmv0[1])
        if mode in ("l1", "bi"):
            pmv1 = _pred_mv_b(st, mbx, mby, 1)
            w.se(d["mv1"][0] - pmv1[0])
            w.se(d["mv1"][1] - pmv1[1])
    cbp = d["cbp_luma"] | (d["cbp_chroma"] << 4)
    w.ue(_CBP_INTER_ENC[cbp])
    if cbp:
        w.se(0)  # mb_qp_delta
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if d["cbp_luma"] & (1 << (blk // 4)):
            total = encode_residual(
                w, _zigzag_list(d["zs"][blk], skip_dc=False),
                st.nc_luma(abx, aby),
            )
            st.nc_y[aby, abx] = total
        else:
            st.nc_y[aby, abx] = 0
    _write_chroma_residuals(
        w, st, mbx, mby, d["cbp_chroma"], d["cdcq"], d["cacq"]
    )
    if mode == "parts":
        # motion already stored progressively by the emitter — run
        # reconstruction only (the decoder's _decode_b_part_mb tail)
        st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
        pred_y, pred_u, pred_v = d["preds"]
        _recon_inter_luma(st, mbx, mby, qp, pred_y, d["zs"],
                          d["cbp_luma"])
        _recon_chroma_blocks(
            st, mbx, mby, qp, 0, [pred_u, pred_v], d["cdcq"], d["cacq"]
        )
    else:
        _b_mb_finish(st, mbx, mby, qp, 0, d)
    return 0


def _emit_b_part_pred(
    w: _BitWriter, st: _FrameState, mbx: int, mby: int, ctx: dict,
    pc: dict,
) -> None:
    """Emit the prediction half of a partitioned B macroblock in
    EXACTLY _b_part_layout's parse order (sub_mb_types → ref_idx_l0 →
    ref_idx_l1 → every mvd_l0 → every mvd_l1), storing motion
    progressively so each mvd's predictor matches the decoder's."""
    w.ue(pc["mb_type"])
    if pc["kind2"] == "b8":
        for t_ in pc["sub_types"]:
            w.ue(t_)
        use0, use1, dparts = pc["direct"]
        for q8, (qx, qy) in enumerate(_P8_QUADS):
            if pc["sub_types"][q8] == 0:
                _store_b_direct_quad(
                    st, mbx, mby, qx, qy, use0, use1,
                    dparts[(qy // 2) * 2 + qx // 2],
                )
        for lst in (0, 1):
            nref = ctx["n_ref_l0"] if lst == 0 else ctx["n_ref_l1"]
            for qmode, _g, _m in pc["quads"]:
                if nref > 1 and qmode in (
                    ("l0", "bi") if lst == 0 else ("l1", "bi")
                ):
                    w.te(0, nref - 1)
        for lst in (0, 1):
            for qmode, geoms, mvs in pc["quads"]:
                if qmode not in (
                    ("l0", "bi") if lst == 0 else ("l1", "bi")
                ):
                    continue
                for g, (m0, m1) in zip(geoms, mvs):
                    _k, dx, dy, pw, _ph = g
                    mv = m0 if lst == 0 else m1
                    pmv = _pred_mv_b(
                        st, mbx, mby, lst, ref_idx=0,
                        abx=mbx * 4 + dx, aby=mby * 4 + dy, pw=pw,
                        kind="sub",
                    )
                    w.se(mv[0] - pmv[0])
                    w.se(mv[1] - pmv[1])
                    _store_b_part_lst(st, mbx, mby, g, lst, mv, 0)
        return
    modes, mvs, parts_g = pc["modes"], pc["mvs"], pc["parts_g"]
    for lst in (0, 1):
        nref = ctx["n_ref_l0"] if lst == 0 else ctx["n_ref_l1"]
        for mode in modes:
            if nref > 1 and mode in (
                ("l0", "bi") if lst == 0 else ("l1", "bi")
            ):
                w.te(0, nref - 1)
    for lst in (0, 1):
        for part, mode, (m0, m1) in zip(parts_g, modes, mvs):
            if mode not in (("l0", "bi") if lst == 0 else ("l1", "bi")):
                continue
            kind, dx, dy, pw, _ph = part
            mv = m0 if lst == 0 else m1
            pmv = _pred_mv_b(
                st, mbx, mby, lst, ref_idx=0,
                abx=mbx * 4 + dx, aby=mby * 4 + dy, pw=pw, kind=kind,
            )
            w.se(mv[0] - pmv[0])
            w.se(mv[1] - pmv[1])
            _store_b_part_lst(st, mbx, mby, part, lst, mv, 0)


def _ensure_b_counts(st: _FrameState) -> dict:
    if not hasattr(st, "b_mode_counts"):
        st.b_mode_counts = {
            "l0": 0, "l1": 0, "bi": 0, "intra": 0,
            "direct": 0, "skip": 0,
        }
    return st.b_mode_counts


def _decode_b_mb(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, qp: int,
    cqo: int, ctx: dict,
) -> None:
    mb_type = r.ue()
    _ensure_b_counts(st)
    if mb_type >= 23:
        st.b_mode_counts["intra"] += 1
        # Table 7-14: intra macroblock types offset by 23 in B slices
        st.inter[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.uses0[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.uses1[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = False
        st.mv[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        st.mv1[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
        _decode_mb(r, st, mbx, mby, qp, cqo, mb_type=mb_type - 23)
        return
    if 4 <= mb_type <= 22:
        _decode_b_part_mb(r, st, mbx, mby, qp, cqo, ctx, mb_type)
        return
    if mb_type != 0 and mb_type not in _B_MBTYPE_MODE:
        raise MediaFormatError("invalid B mb_type")
    mode = "direct" if mb_type == 0 else _B_MBTYPE_MODE[mb_type]
    st.b_mode_counts[mode] += 1
    mv0 = mv1 = (0, 0)
    ri0 = ri1 = 0
    direct = None
    if mode == "direct":
        # B_Direct_16x16: direct derivation, no motion syntax
        direct = _b_direct_mvs(st, mbx, mby, ctx)
    if mode != "direct":
        if ctx["n_ref_l0"] > 1 and mode in ("l0", "bi"):
            ri0 = r.te(ctx["n_ref_l0"] - 1)
            if ri0 >= ctx["n_ref_l0"]:
                raise MediaFormatError("ref_idx_l0 out of range")
        if ctx["n_ref_l1"] > 1 and mode in ("l1", "bi"):
            ri1 = r.te(ctx["n_ref_l1"] - 1)
            if ri1 >= ctx["n_ref_l1"]:
                raise MediaFormatError("ref_idx_l1 out of range")
    if mode in ("l0", "bi"):
        pmv0 = _pred_mv_b(st, mbx, mby, 0, ref_idx=ri0)
        mv0 = (pmv0[0] + r.se(), pmv0[1] + r.se())
    if mode in ("l1", "bi"):
        pmv1 = _pred_mv_b(st, mbx, mby, 1, ref_idx=ri1)
        mv1 = (pmv1[0] + r.se(), pmv1[1] + r.se())
    code = r.ue()
    if code >= len(_CBP_INTER):
        raise MediaFormatError("coded_block_pattern code out of range")
    cbp = _CBP_INTER[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma > 2:
        raise MediaFormatError("invalid chroma coded_block_pattern")
    if cbp and r.se() != 0:
        raise MediaFormatError("mb_qp_delta outside the fixed-QP subset")
    # store motion BEFORE residuals? No: nc contexts don't depend on
    # motion; residual decode matches the encoder's emission order.
    zs = []
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if cbp_luma & (1 << (blk // 4)):
            coeffs, total = decode_residual(r, st.nc_luma(abx, aby), 16)
            st.nc_y[aby, abx] = total
            zs.append(_unzigzag(coeffs, skip_dc=False))
        else:
            st.nc_y[aby, abx] = 0
            zs.append(np.zeros((4, 4), dtype=np.int64))
    cdc, cac = _read_chroma_residuals(r, st, mbx, mby, cbp_chroma)
    if mode == "direct":
        pred_y, pred_u, pred_v = _mc_direct_pred(
            ctx, mbx, mby, *direct
        )
    else:
        pred_y, pred_u, pred_v = _mc_b_pred(
            ctx, mbx, mby, mode, mv0, mv1, ri0=ri0, ri1=ri1
        )
    _b_mb_finish(
        st, mbx, mby, qp, cqo,
        {
            "mode": mode, "mv0": mv0, "mv1": mv1, "direct": direct,
            "r0": ri0, "r1": ri1,
            "zs": zs, "cbp_luma": cbp_luma, "cdcq": cdc, "cacq": cac,
            "preds": (pred_y, pred_u, pred_v),
        },
    )


def _b_part_layout(r: _BitReader, st, mbx, mby, ctx, mb_type):
    """Parse the PREDICTION half of a partitioned B macroblock
    (§7.3.5.1 two-partition types 4-21 / §7.3.5.2 B_8x8) and store
    motion progressively.  Returns the plist for _mc_b_parts.  Shared
    by decoder and (via the emit callbacks) kept in lockstep with the
    encoder's write order: [sub_mb_type ×4] → ref_idx_l0 per L0-using
    partition → ref_idx_l1 per L1-using → every mvd_l0 → every
    mvd_l1."""
    if mb_type == 22:  # B_8x8
        sub_types = [r.ue() for _ in range(4)]
        if any(t_ not in _B_SUB_TYPES for t_ in sub_types):
            raise MediaFormatError("invalid B sub_mb_type")
        direct = None
        if any(_B_SUB_TYPES[t_][0] is None for t_ in sub_types):
            # B_Direct_8x8: the MB-level derivation, applied per
            # quadrant (computed BEFORE any of this MB's own motion
            # lands — the derivation reads only neighbours)
            direct = _b_direct_mvs(st, mbx, mby, ctx)
        # quadrant → (mode, [sub-part geoms]); direct quadrants STORE
        # immediately so the MB's own explicit sub-partitions' MV
        # predictors see their derived motion (§8.4.1.3 reads decoded
        # partition motion, derived or parsed)
        quads = []
        for q8, (qx, qy) in enumerate(_P8_QUADS):
            mode, shape = _B_SUB_TYPES[sub_types[q8]]
            geoms = [
                ("sub", qx + sdx, qy + sdy, pw, ph)
                for sdx, sdy, pw, ph in _P_SUB_PARTS[shape]
            ]
            quads.append((mode, geoms, qx // 2, qy // 2))
            if mode is None:
                use0, use1, dparts = direct
                _store_b_direct_quad(
                    st, mbx, mby, qx, qy, use0, use1,
                    dparts[(qy // 2) * 2 + qx // 2],
                )
        refidx = {0: {}, 1: {}}
        for lst in (0, 1):
            nref = ctx["n_ref_l0"] if lst == 0 else ctx["n_ref_l1"]
            for q8, (mode, _g, _qx, _qy) in enumerate(quads):
                if mode in (("l0", "bi") if lst == 0 else ("l1", "bi")):
                    ri = r.te(nref - 1) if nref > 1 else 0
                    if ri >= nref:
                        raise MediaFormatError("ref_idx out of range")
                    refidx[lst][q8] = ri
        plist = []
        part_mvs: dict = {}
        for lst in (0, 1):
            for q8, (mode, geoms, _qx, _qy) in enumerate(quads):
                if mode is None or mode not in (
                    ("l0", "bi") if lst == 0 else ("l1", "bi")
                ):
                    continue
                ri = refidx[lst].get(q8, 0)
                for g in geoms:
                    _k, dx, dy, pw, _ph = g
                    pmv = _pred_mv_b(
                        st, mbx, mby, lst, ref_idx=ri,
                        abx=mbx * 4 + dx, aby=mby * 4 + dy, pw=pw,
                        kind="sub",
                    )
                    mv = (pmv[0] + r.se(), pmv[1] + r.se())
                    _store_b_part_lst(st, mbx, mby, g, lst, mv, ri)
                    part_mvs.setdefault((q8, g), {})[lst] = (mv, ri)
        for q8, (mode, geoms, qx2, qy2) in enumerate(quads):
            if mode is None:
                use0, use1, dparts = direct
                quad = dparts[qy2 * 2 + qx2]
                dmode = (
                    "bi" if use0 and use1 else ("l0" if use0 else "l1")
                )
                plist.append((
                    ("sub", qx2 * 2, qy2 * 2, 2, 2), dmode,
                    quad[0], quad[1], quad[2], quad[3],
                ))
                continue
            for g in geoms:
                got = part_mvs[(q8, g)]
                mv0, r0 = got.get(0, ((0, 0), 0))
                mv1, r1 = got.get(1, ((0, 0), 0))
                plist.append((g, mode, mv0, mv1, r0, r1))
        return plist
    # two-partition types 4..21
    parts = _P_PARTS[1 if mb_type % 2 == 0 else 2]
    modes = _B_PART_PAIRS[(mb_type - 4) // 2]
    refidx = {0: {}, 1: {}}
    for lst in (0, 1):
        nref = ctx["n_ref_l0"] if lst == 0 else ctx["n_ref_l1"]
        for i, mode in enumerate(modes):
            if mode in (("l0", "bi") if lst == 0 else ("l1", "bi")):
                ri = r.te(nref - 1) if nref > 1 else 0
                if ri >= nref:
                    raise MediaFormatError("ref_idx out of range")
                refidx[lst][i] = ri
    part_mvs = {}
    for lst in (0, 1):
        for i, (part, mode) in enumerate(zip(parts, modes)):
            if mode not in (("l0", "bi") if lst == 0 else ("l1", "bi")):
                continue
            kind, dx, dy, pw, _ph = part
            ri = refidx[lst].get(i, 0)
            pmv = _pred_mv_b(
                st, mbx, mby, lst, ref_idx=ri,
                abx=mbx * 4 + dx, aby=mby * 4 + dy, pw=pw, kind=kind,
            )
            mv = (pmv[0] + r.se(), pmv[1] + r.se())
            _store_b_part_lst(st, mbx, mby, part, lst, mv, ri)
            part_mvs.setdefault(i, {})[lst] = (mv, ri)
    plist = []
    for i, (part, mode) in enumerate(zip(parts, modes)):
        got = part_mvs[i]
        mv0, r0 = got.get(0, ((0, 0), 0))
        mv1, r1 = got.get(1, ((0, 0), 0))
        plist.append((part, mode, mv0, mv1, r0, r1))
    return plist


def _decode_b_part_mb(
    r: _BitReader, st: _FrameState, mbx: int, mby: int, qp: int,
    cqo: int, ctx: dict, mb_type: int,
) -> None:
    """Decode one PARTITIONED B macroblock (round 13): the 16x8/8x16
    two-partition types and B_8x8 with every Table 7-18 sub shape."""
    key = "b8x8" if mb_type == 22 else "parts"
    st.b_mode_counts[key] = st.b_mode_counts.get(key, 0) + 1
    plist = _b_part_layout(r, st, mbx, mby, ctx, mb_type)
    if mb_type == 22 and any(p[0][3] < 2 or p[0][4] < 2 for p in plist):
        # at least one sub-8x8 split shape decoded (Table 7-18 ≥ 4)
        st.b_mode_counts["bsub"] = st.b_mode_counts.get("bsub", 0) + 1
    code = r.ue()
    if code >= len(_CBP_INTER):
        raise MediaFormatError("coded_block_pattern code out of range")
    cbp = _CBP_INTER[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma > 2:
        raise MediaFormatError("invalid chroma coded_block_pattern")
    if cbp and r.se() != 0:
        raise MediaFormatError("mb_qp_delta outside the fixed-QP subset")
    zs = []
    for blk in range(16):
        bx, by = _LUMA_BLK_XY[blk]
        abx, aby = mbx * 4 + bx, mby * 4 + by
        if cbp_luma & (1 << (blk // 4)):
            coeffs, total = decode_residual(r, st.nc_luma(abx, aby), 16)
            st.nc_y[aby, abx] = total
            zs.append(_unzigzag(coeffs, skip_dc=False))
        else:
            st.nc_y[aby, abx] = 0
            zs.append(np.zeros((4, 4), dtype=np.int64))
    cdc, cac = _read_chroma_residuals(r, st, mbx, mby, cbp_chroma)
    pred_y, pred_u, pred_v = _mc_b_parts(ctx, mbx, mby, plist)
    st.i4_mode[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
    _recon_inter_luma(st, mbx, mby, qp, pred_y, zs, cbp_luma)
    _recon_chroma_blocks(
        st, mbx, mby, qp, cqo, [pred_u, pred_v], cdc, cac
    )


def _decode_b_slice_mbs(
    r: _BitReader, st: _FrameState, qp: int, cqo: int, ctx: dict,
    first_mb: int = 0, until_end: bool = False,
) -> int:
    n_mbs = st.mb_w * st.mb_h
    i = first_mb
    while i < n_mbs:
        if until_end and i > first_mb and r.byte_aligned_stop():
            break
        run = r.ue()  # mb_skip_run: B_Skip = direct, no residue
        if run > n_mbs - i:
            raise MediaFormatError("mb_skip_run overruns the picture")
        for _ in range(run):
            st.slice_id[i // st.mb_w, i % st.mb_w] = st.cur_slice
            _recon_b_skip(st, i % st.mb_w, i // st.mb_w, ctx)
            _ensure_b_counts(st)["skip"] += 1
            i += 1
        if i >= n_mbs:
            break
        if until_end and run and r.byte_aligned_stop():
            break
        st.slice_id[i // st.mb_w, i % st.mb_w] = st.cur_slice
        _decode_b_mb(r, st, i % st.mb_w, i // st.mb_w, qp, cqo, ctx)
        i += 1
    return i


def b_mode_histogram(
    nal: bytes, sps: dict, pps: dict, ref, ref2,
    col: dict | None = None,
    refs: list | None = None, ref_pocs: list | None = None,
) -> dict:
    """Decode one B slice NAL and return its macroblock mode counts
    ({'l0', 'l1', 'bi', 'direct', 'skip', 'intra'}) — the lane-level
    proof that the bi-predictive / direct machinery actually engages
    instead of degenerating to L0-only."""
    r = _BitReader(_unescape_rbsp(nal[1:]))
    stype, qp, _d, _a, _b, hinfo = _parse_slice_header(
        r, sps, pps, idr=False, nal_ref_idc=nal[0] >> 5
    )
    if stype != "B":
        raise MediaFormatError("b_mode_histogram expects a B slice")
    st = _FrameState(sps["mb_w"], sps["mb_h"])
    _ensure_b_counts(st)
    l0 = refs if refs is not None else [ref, ref2]
    ctx = _b_ctx(
        l0, direct_spatial=hinfo["direct_spatial"], col=col,
        l0_pocs=ref_pocs, poc=hinfo["poc"],
        n_ref_l0=hinfo["num_ref_l0"], n_ref_l1=hinfo["num_ref_l1"],
        wpb=hinfo.get("wpb"),
    )
    _decode_b_slice_mbs(
        r, st, qp, pps.get("chroma_qp_index_offset", 0), ctx
    )
    return dict(st.b_mode_counts)


def encode_b_frame_nal(
    rgb: bytes, width: int, height: int, qp: int,
    refs, frame_num: int, poc_lsb: int, deblock: bool = True,
    col: dict | None = None,
    direct: str = "spatial",
    ref_pocs: list | None = None, poc: int | None = None,
    ref_fnums: list | None = None, ref_lts: list | None = None,
    ref_motions: list | None = None,
    rplm_l0: list | None = None, rplm_l1: list | None = None,
    n_ref_l0: int | None = None, n_ref_l1: int | None = None,
    direct_lt_bias: bool = False,
    weighted: bool = False,
):
    """One RGB frame → one non-reference B slice NAL against ``refs``
    (= the FILTERED reference pictures in DEFAULT-LIST order:
    short-terms most recent first, then long-terms by ascending
    LongTermFrameIdx; L1 is that list after the §8.2.4.2.3 first-two
    swap).  ``col`` is RefPicList1[0]'s motion snapshot for direct
    prediction.  Returns (nal, output planes).

    ``direct="temporal"`` (round 13): the slice signals
    direct_spatial_mv_pred_flag 0 and B_Skip/B_Direct_16x16 derive
    motion by POC scaling (§8.4.1.2.3) — requires ``ref_pocs`` (full
    POCs of ``refs``), ``poc`` (this picture's), and a colocated
    snapshot carrying its own reference POCs; pass len(refs) ≥ 3 so
    the colocated picture's reference maps into the current list 0.

    Round 14 (long-term B): ``ref_lts`` carries per-entry
    LongTermFrameIdx (None = short-term), ``rplm_l0``/``rplm_l1``
    signal real §7.3.3.1 modification ops on either list — resolved
    through the SAME _ref_list_order the decoder runs (``ref_fnums``
    supplies the picNum arithmetic), so encoder prediction and any
    conforming decoder stay in lockstep; ``ref_motions`` (full DPB
    snapshot list) lets the colocated picture follow a modified L1."""
    y, u, v = rgb_to_yuv420(rgb, width, height)
    y, u, v = _pad_plane(y, 16), _pad_plane(u, 8), _pad_plane(v, 8)
    mb_w, mb_h = y.shape[1] // 16, y.shape[0] // 16
    st = _FrameState(mb_w, mb_h)
    wpb = None
    if weighted == "implicit":
        # §8.4.2.3.1 IMPLICIT weights (round 16): nothing estimated,
        # nothing written — the closed loop and any conforming
        # decoder derive identical weights from POC distances.  The
        # caller's PPS must signal weighted_bipred_idc 2 and pass
        # ``ref_pocs``/``poc``.
        wpb = {"implicit": True}
    elif weighted:
        # §8.4.2.3.2 EXPLICIT B weights (round 15): the fade estimate
        # per list against each list's FIRST reference (L1[0] is
        # refs[1] under the §8.2.4.2.3 default swap); further active
        # references keep identity entries.  The caller's PPS must
        # signal weighted_bipred_idc 1.
        e0 = _estimate_wp(y, u, v, refs[0], 1)
        e1 = _estimate_wp(
            y, u, v, refs[1] if len(refs) > 1 else refs[0], 1
        )
        wpb = {"ld": e0["ld"], "cd": e0["cd"],
               "w0": e0["w"], "w1": e1["w"]}
    # spatial B keeps the pre-round-13 single-active-reference syntax
    # (no override, no ref_idx bits — byte-identical streams); the
    # temporal chain opens the full list so the colocated reference
    # maps into it
    if n_ref_l0 is None:
        n_ref_l0 = len(refs) if direct == "temporal" else 1
    if n_ref_l1 is None:
        n_ref_l1 = 1
    if rplm_l0 or rplm_l1:
        # mirror decode_picture's modified-list construction exactly
        max_fn = 1 << 4
        default1 = (
            [1, 0] + list(range(2, len(refs)))
            if len(refs) > 1
            else [0]
        )
        ord0 = _ref_list_order(
            len(refs), rplm_l0, frame_num, ref_fnums, max_fn,
            n_ref_l0, ref_lts=ref_lts,
        )
        ord1 = _ref_list_order(
            len(refs), rplm_l1, frame_num, ref_fnums, max_fn,
            n_ref_l1, default=default1, ref_lts=ref_lts,
        )
        ctx = {
            "l0": [refs[i] for i in ord0],
            "l1": [refs[i] for i in ord1],
            "n_ref_l0": n_ref_l0,
            "n_ref_l1": n_ref_l1,
            "direct_spatial": direct == "spatial",
            "col": (
                ref_motions[ord1[0]] if ref_motions is not None else col
            ),
            "l0_pocs": (
                tuple(ref_pocs[i] for i in ord0)
                if ref_pocs is not None else None
            ),
            "l1_pocs": (
                tuple(ref_pocs[i] for i in ord1)
                if ref_pocs is not None else None
            ),
            "l0_lts": (
                tuple(ref_lts[i] for i in ord0)
                if ref_lts is not None else None
            ),
            "l1_lts": (
                tuple(ref_lts[i] for i in ord1)
                if ref_lts is not None else None
            ),
            "poc": poc,
            "wp": wpb,
        }
    else:
        if ref_motions is not None and len(refs) > 1:
            col = ref_motions[1]  # default L1[0] = l0[1] (the swap)
        ctx = _b_ctx(
            list(refs), direct_spatial=direct == "spatial", col=col,
            l0_pocs=ref_pocs, poc=poc, n_ref_l0=n_ref_l0,
            n_ref_l1=n_ref_l1, ref_lts=ref_lts, wpb=wpb,
        )
    if direct_lt_bias:
        ctx["direct_lt_bias"] = True  # encoder-only; see _b_mb_decide
    if ctx["l0_pocs"] is not None:
        st.l0_pocs = ctx["l0_pocs"][:n_ref_l0]
        st.l1_pocs = ctx["l1_pocs"][:n_ref_l1]
    _implicit_wp_table(ctx)  # no-op unless idc 2 (round 16)
    w = _BitWriter()
    _write_slice_header(
        w, qp, DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=0,
        log2_max_poc_lsb=4, deblock=deblock, slice_type="B",
        frame_num=frame_num, poc_lsb=poc_lsb,
        num_ref_l0=n_ref_l0, num_ref_l1=n_ref_l1,
        direct_spatial=direct == "spatial",
        rplm_l0=rplm_l0, rplm_l1=rplm_l1, wpb=wpb,
    )
    skip_run = 0
    for mby in range(mb_h):
        for mbx in range(mb_w):
            skip_run = _encode_b_mb(
                w, st, mbx, mby, qp, y, u, v, ctx, skip_run
            )
    if skip_run:
        w.ue(skip_run)  # trailing skip run
    nal = b"\x01" + w.finish()  # nal_ref_idc=0 (non-ref), type 1
    if deblock:
        return nal, deblock_frame(st.y, st.u, st.v, qp, st=st)
    return nal, (st.y, st.u, st.v)


_IPB_CACHE: dict = {}


def _encode_ipb_longterm(
    width: int, height: int, frames_rgb: list[bytes], qp: int,
):
    """The ``ipb-longterm`` chain body (round 14 — long-term
    references UNDER B SLICES): picture 1 is a P picture that pins
    ITSELF long-term (MMCO 4 opens LongTermFrameIdx space, MMCO 6
    assigns index 0 to the current picture), so every later B decodes
    with a long-term in its DPB.  The B pictures then cycle four
    shapes, each predicting against lists the decoder must rebuild
    identically:

    - variant 0 (spatial, default lists): the §8.2.4.2.3 swap puts
      the LONG-TERM at RefPicList1[0] when the DPB is
      [short, long] — its (inter) motion snapshot must NOT feed
      colZeroFlag (§8.4.1.2.2's short-term condition);
    - variant 1 (TEMPORAL, rplm_l1 selects the newest short-term as
      the colocated picture): that picture's own blocks reference
      both a short-term (POC-scaled motion) and the long-term
      (UNSCALED copy — the §8.4.1.2.3 long-term branch);
    - variant 2 (spatial, rplm_l0 = long_term_pic_num to index 0):
      every L0/bi prediction comes FROM the pinned picture;
    - variant 3 (spatial, rplm_l1 likewise): L1/bi predictions from
      the pinned picture AND the long-term-colocated suppression.

    Reference P pictures code multi-reference lists over
    [short-terms..., long-term] so the pinned picture stays a live
    predictor the whole chain (and feeds variant 1's colocated
    mapping).  Returns (nals, recon planes)."""
    out = encode_frame_nal(
        frames_rgb[0], width, height, qp, idr_pic_id=0,
        return_planes=True,
    )
    nals = [out[0]]
    recons = [out[1]]
    mb_w, mb_h = out[1][0].shape[1] // 16, out[1][0].shape[0] // 16
    # (planes, motion, poc, frame_num) per DPB entry
    shorts = [(out[1], _intra_motion(mb_w, mb_h), 0, 0)]
    lt = None  # the pinned long-term entry (LongTermFrameIdx 0)
    depth = 3  # SPS num_ref_frames: 2 short-terms + the long-term
    fn = 1
    bvar = 0
    for i, f in enumerate(frames_rgb[1:], start=1):
        entries = shorts + ([lt] if lt is not None else [])
        refs_all = [e[0] for e in entries]
        mots_all = [e[1] for e in entries]
        pocs_all = [e[2] for e in entries]
        fnums_all = [e[3] for e in entries]
        lts_all = [None] * len(shorts) + ([0] if lt is not None else [])
        if i % 2 == 1:
            # reference P picture (multi-ref once the DPB deepens)
            use = min(depth, len(entries))
            sink: dict = {}
            mmco = [(4, 1), (6, 0)] if i == 1 else None
            nal, planes = encode_p_frame_nal(
                f, width, height, qp, refs_all[0], fn, poc_lsb=2 * i,
                motion_sink=sink,
                refs=refs_all[:use] if use > 1 else None,
                ref_pocs=pocs_all[:use] if use > 1 else None,
                mmco=mmco,
            )
            entry = (planes, sink, 2 * i, fn)
            if i == 1:
                lt = entry  # MMCO 6: the current picture pins itself
            else:
                shorts = [entry] + shorts
            shorts = shorts[: depth - (1 if lt is not None else 0)]
            fn += 1
        else:
            # non-reference B picture; cycle the four long-term shapes
            kw: dict = {"direct": "spatial"}
            if bvar == 1 and len(shorts) >= 2:
                # temporal: L1[0] = the newest short-term via a real
                # picNum op (idc 0 diff 0 against CurrPicNum = fn);
                # the direct_lt_bias makes the encoder CODE the
                # long-term scaling branch where the derivation
                # reaches it (see _b_mb_decide)
                kw = {
                    "direct": "temporal",
                    "rplm_l1": [(0, 0)],
                    "n_ref_l0": len(entries),
                    "direct_lt_bias": True,
                }
            elif bvar == 2:
                kw["rplm_l0"] = [(2, 0)]
            elif bvar == 3:
                kw["rplm_l1"] = [(2, 0)]
            nal, planes = encode_b_frame_nal(
                f, width, height, qp, refs_all, fn, poc_lsb=2 * i,
                ref_pocs=pocs_all, poc=2 * i, ref_fnums=fnums_all,
                ref_lts=lts_all, ref_motions=mots_all, **kw,
            )
            bvar = (bvar + 1) % 4
        nals.append(nal)
        recons.append(planes)
    return nals, recons


def encode_h264_ipb(
    width: int, height: int, frames_rgb: list[bytes], qp: int = DEFAULT_QP,
    return_recon: bool = False, direct: str = "spatial",
    longterm: bool = False, weighted: bool = False,
):
    """Frames → (SPS, PPS, [IDR, P, B, P, B, ...][, recon frames]):
    low-delay B — coded order == display order, odd frames are
    reference P pictures, even frames (from 2) are NON-reference B
    pictures predicting from the two most recent references (L0[0] =
    newer, L1[0] = older, per the default list construction).  B
    frames never enter the DPB, so the reference chain is exactly the
    P chain.  SPS advertises num_ref_frames=2.

    ``direct="temporal"`` (round 13): the B slices signal temporal
    direct; the DPB deepens to 3 (SPS num_ref_frames=3) and each B
    opens the full list 0 so the colocated picture's own reference —
    two references back — maps into it (§8.4.1.2.3).

    ``longterm=True`` (round 14): the _encode_ipb_longterm chain —
    picture 1 pins itself long-term via MMCO 4+6 and the B pictures
    cycle the four long-term shapes (see that helper's docstring);
    ``direct`` is ignored (the chain mixes spatial and temporal
    slices)."""
    key = (width, height, tuple(frames_rgb), qp, direct, longterm,
           weighted)
    hit = _IPB_CACHE.get(key)
    if hit is None and longterm:
        sps = write_h264_sps(width, height, 66, 30, num_ref_frames=3)
        pps = write_pps(DEFAULT_QP)
        nals, recons = _encode_ipb_longterm(width, height, frames_rgb, qp)
        rgb_recons = [
            yuv420_to_rgb(
                y[:height, :width],
                u[: (height + 1) // 2, : (width + 1) // 2],
                v[: (height + 1) // 2, : (width + 1) // 2],
            )
            for y, u, v in recons
        ]
        if len(_IPB_CACHE) > 16:
            _IPB_CACHE.clear()
        hit = (sps, pps, nals, rgb_recons)
        _IPB_CACHE[key] = hit
    if hit is None:
        depth = 3 if direct == "temporal" else 2
        sps = write_h264_sps(width, height, 66, 30, num_ref_frames=depth)
        pps = write_pps(
            DEFAULT_QP,
            weighted_bipred=2 if weighted == "implicit" else weighted,
        )
        out = encode_frame_nal(
            frames_rgb[0], width, height, qp, idr_pic_id=0,
            return_planes=True,
        )
        nals = [out[0]]
        dpb = [out[1]]  # most recent reference first
        mb_w, mb_h = out[1][0].shape[1] // 16, out[1][0].shape[0] // 16
        dpb_motion = [_intra_motion(mb_w, mb_h)]
        dpb_pocs = [0]
        recons = [out[1]]
        fn = 1  # next reference picture's frame_num
        for i, f in enumerate(frames_rgb[1:], start=1):
            if i % 2 == 1 or len(dpb) < 2:
                sink: dict = {}
                nal, planes = encode_p_frame_nal(
                    f, width, height, qp, dpb[0], fn, poc_lsb=2 * i,
                    motion_sink=sink,
                    refs=[dpb[0]] if direct == "temporal" else None,
                    ref_pocs=(
                        dpb_pocs[:1] if direct == "temporal" else None
                    ),
                )
                dpb = [planes] + dpb[: depth - 1]
                dpb_motion = [sink] + dpb_motion[: depth - 1]
                dpb_pocs = [2 * i] + dpb_pocs[: depth - 1]
                fn += 1
            else:
                nal, planes = encode_b_frame_nal(
                    f, width, height, qp, dpb, fn, poc_lsb=2 * i,
                    col=dpb_motion[1],  # RefPicList1[0]'s motion
                    direct=direct,
                    ref_pocs=(
                        dpb_pocs
                        if direct == "temporal" or weighted == "implicit"
                        else None
                    ),
                    poc=(
                        2 * i
                        if direct == "temporal" or weighted == "implicit"
                        else None
                    ),
                    weighted=weighted,
                )
            nals.append(nal)
            recons.append(planes)
        rgb_recons = [
            yuv420_to_rgb(
                y[:height, :width],
                u[: (height + 1) // 2, : (width + 1) // 2],
                v[: (height + 1) // 2, : (width + 1) // 2],
            )
            for y, u, v in recons
        ]
        if len(_IPB_CACHE) > 16:
            _IPB_CACHE.clear()
        hit = (sps, pps, nals, rgb_recons)
        _IPB_CACHE[key] = hit
    if not return_recon:
        return hit[0], hit[1], hit[2]
    return hit


def encode_p_frame_nal(
    rgb: bytes, width: int, height: int, qp: int,
    ref: tuple[np.ndarray, np.ndarray, np.ndarray], frame_num: int,
    deblock: bool = True, poc_lsb: int | None = None,
    motion_sink: dict | None = None,
    refs: list | None = None, ref_pocs: list | None = None,
    wp: dict | None = None, poc_type: int = 0,
    rplm_l0: list | None = None, mmco: list | None = None,
):
    """One RGB frame → one P slice NAL against ``ref`` (the previous
    picture's FILTERED output planes).  Returns (nal, output planes —
    deblocked with the §8.7.2.1 inter strengths when ``deblock``) —
    the planes feed the next frame's reference, and by the closed-loop
    contract they are byte-identical to any conforming decoder's
    output for this NAL.

    Multi-reference (round 13): pass ``refs`` — the full RefPicList0,
    most recent first, refs[0] == ref — to code against up to 8
    references with per-partition ref_idx_l0 te(v) syntax; ``ref_pocs``
    (full POCs, same order) feeds the same-reference-picture deblock
    rule and the motion snapshot temporal direct reads."""
    y, u, v = rgb_to_yuv420(rgb, width, height)
    y, u, v = _pad_plane(y, 16), _pad_plane(u, 8), _pad_plane(v, 8)
    mb_w, mb_h = y.shape[1] // 16, y.shape[0] // 16
    st = _FrameState(mb_w, mb_h)
    if refs is not None and ref_pocs is not None:
        st.l0_pocs = tuple(ref_pocs)
    w = _BitWriter()
    _write_slice_header(
        w, qp, DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=poc_type,
        log2_max_poc_lsb=4, deblock=deblock, slice_type="P",
        frame_num=frame_num, poc_lsb=poc_lsb,
        num_ref_l0=len(refs) if refs is not None else 1,
        wp=wp, rplm_l0=rplm_l0, mmco=mmco,
    )
    skip_run = 0
    for mby in range(mb_h):
        for mbx in range(mb_w):
            skip_run = _encode_p_mb(
                w, st, mbx, mby, qp, y, u, v, ref, skip_run, refs=refs,
                wp=wp,
            )
    if skip_run:
        w.ue(skip_run)  # trailing skip run
    if motion_sink is not None:
        motion_sink.update(_motion_snapshot(st))
    nal = b"\x41" + w.finish()  # nal_ref_idc=2, type 1 (non-IDR slice)
    if deblock:
        return nal, deblock_frame(st.y, st.u, st.v, qp, st=st)
    return nal, (st.y, st.u, st.v)


_IPPP_CACHE: dict = {}


def _estimate_wp(y, u, v, ref, n_entries: int) -> dict:
    """Global fade estimate for explicit weighted prediction: per
    plane, weight = round(32 * mean(cur)/mean(ref)) (denominator 5)
    and offset = the residual mean — the textbook fade model.  Entry 0
    carries the estimate; further active references (if any) keep the
    identity default (entry None)."""
    ry, ru, rv = ref

    def est(cur, refp, denom):
        m_ref = float(refp.mean())
        m_cur = float(cur.mean())
        if m_ref < 1e-6:
            return 1 << denom, 0
        w_ = int(round((1 << denom) * m_cur / m_ref))
        w_ = max(-128, min(127, w_))
        o_ = int(round(m_cur - m_ref * w_ / (1 << denom)))
        return w_, max(-128, min(127, o_))

    lw, lo = est(y, ry, 5)
    cw0, co0 = est(u, ru, 5)
    cw1, co1 = est(v, rv, 5)
    return {
        "ld": 5, "cd": 5,
        "w": [{"lw": lw, "lo": lo, "cw": [cw0, cw1],
               "co": [co0, co1]}] + [None] * (n_entries - 1),
    }


def encode_h264_ippp(
    width: int, height: int, frames_rgb: list[bytes], qp: int = DEFAULT_QP,
    return_recon: bool = False, n_refs: int = 1, weighted: bool = False,
    reflist: bool = False, poc_type: int = 0, longterm: bool = False,
    mmco5: bool = False,
):
    """Frames → (SPS, PPS, [IDR slice, P slice, ...][, recon frames]):
    the first frame intra, every later frame predicted from its
    predecessor (single reference).  The deblocking filter is ON, the
    spec-realistic configuration: references are the FILTERED pictures
    (§8.7.2.1 per-edge strengths on P pictures), mirrored exactly by
    the decoder, so encoder recon ≡ any conforming decoder's output,
    byte for byte.

    ``n_refs`` > 1 (round 13): every P picture codes against the
    ``n_refs`` most recent references (sliding window) with
    per-partition ref_idx_l0 signalling — the flip-flop/occlusion
    pattern where the best match is two or three pictures back."""
    # Memoized: callers code the SAME clip directly (for the recon)
    # and through encode_gop (for a container); motion estimation
    # dominates, so the second encode must be a cache hit, not a
    # re-search.  RGB recons are always computed into the cache
    # (YUV→RGB is trivial next to ME) and sliced off per call.
    if longterm:
        n_refs = max(n_refs, 2)
    key = (width, height, tuple(frames_rgb), qp, n_refs, weighted,
           reflist, poc_type, longterm, mmco5)
    hit = _IPPP_CACHE.get(key)
    if hit is None:
        sps = write_h264_sps(
            width, height, 66, 30, num_ref_frames=n_refs,
            poc_type=poc_type,
        )
        pps = write_pps(DEFAULT_QP, weighted_pred=weighted)
        out = encode_frame_nal(
            frames_rgb[0], width, height, qp, idr_pic_id=0,
            return_planes=True, poc_type=poc_type,
        )
        nals = [out[0]]
        planes = out[1]
        recons = [planes]
        dpb = [planes]  # most recent reference first
        dpb_pocs = [0]
        dpb_fnums = [0]
        lt_entry = None  # (planes, poc) of the pinned long-term ref
        fn_base = 0  # MMCO 5 rebases frame_num/POC to the reset point
        for i, f in enumerate(frames_rgb[1:], start=1):
            eff_fn = i - fn_base
            refs_all = dpb + ([lt_entry[0]] if lt_entry else [])
            pocs_all = dpb_pocs + ([lt_entry[1]] if lt_entry else [])
            use = min(n_refs, len(refs_all))
            wp = None
            if weighted:
                fy, fu, fv = rgb_to_yuv420(f, width, height)
                wp = _estimate_wp(fy, fu, fv, dpb[0], use)
            refs_use = refs_all[:use]
            pocs_use = pocs_all[:use]
            rplm = mmco = None
            if longterm:
                # ``longterm`` chain (round 14): picture 1 pins the
                # IDR as the long-term reference (MMCO 4 opens index
                # space, MMCO 3 assigns LongTermFrameIdx 0) — it then
                # outlives the 1-deep short-term window, a DPB shape
                # impossible without long-term marking.  Picture 4
                # selects it FIRST via RPLM idc 2 (long_term_pic_num),
                # and the second-to-last picture discards it with
                # MMCO 2, so the tail re-proves the drop.
                if i == 1:
                    mmco = [(4, 1), (3, i - 0 - 1, 0)]
                if lt_entry and use >= 2 and i == 4:
                    rplm = [(2, 0)]
                    refs_use = ([refs_all[-1]] + refs_all[:-1])[:use]
                    pocs_use = ([pocs_all[-1]] + pocs_all[:-1])[:use]
                if lt_entry and i == len(frames_rgb) - 2:
                    mmco = (mmco or []) + [(2, 0)]
            if mmco5 and i == 3:
                # ``mmco5`` chain (round 14): one mid-chain stream
                # reset — every reference marked unused, this picture
                # becomes frame_num/POC origin 0 for what follows
                mmco = [(5,)]
            if reflist and use >= 2:
                # ``reflist`` chain (round 14): every multi-ref P
                # signals an RPLM that puts the SECOND-most-recent
                # reference first — picNum CurrPicNum-2 to index 0
                # (idc 0, diff 2), then picNum CurrPicNum-1 (idc 1,
                # diff 1 forward from the predictor) — and the
                # encoder predicts against the SAME modified order,
                # so any conforming decoder that applies §8.2.4.3
                # reproduces the closed loop bit-exactly
                order = [1, 0] + list(range(2, use))
                refs_use = [refs_use[j] for j in order]
                pocs_use = [pocs_use[j] for j in order]
                rplm = [(0, 1), (1, 0)]
            if reflist and i == 3 and len(dpb) >= 2:
                # one mid-chain MMCO 1: drop the OLDEST reference
                # (difference_of_pic_nums_minus1 relative to
                # CurrPicNum) — the DPB develops a real hole that
                # later pictures' PicNum arithmetic must respect
                oldest_fn = dpb_fnums[-1]
                mmco = [(1, i - oldest_fn - 1)]
            nal, planes = encode_p_frame_nal(
                f, width, height, qp, refs_use[0], eff_fn,
                poc_lsb=2 * eff_fn,
                refs=refs_use if use > 1 else None,
                ref_pocs=pocs_use if use > 1 else None,
                wp=wp, poc_type=poc_type, rplm_l0=rplm, mmco=mmco,
            )
            reset5 = False
            for op in mmco or ():
                # mirror the decoder: marking applies AFTER the
                # current picture decodes, before it enters the DPB
                if op[0] == 5:
                    dpb, dpb_pocs, dpb_fnums = [], [], []
                    lt_entry = None
                    fn_base = i
                    reset5 = True
                elif op[0] == 1:
                    dpb = dpb[:-1]
                    dpb_pocs = dpb_pocs[:-1]
                    dpb_fnums = dpb_fnums[:-1]
                elif op[0] == 3:
                    lt_entry = (dpb[-1], dpb_pocs[-1])
                    dpb = dpb[:-1]
                    dpb_pocs = dpb_pocs[:-1]
                    dpb_fnums = dpb_fnums[:-1]
                elif op[0] == 2:
                    lt_entry = None
            scap = max(1, n_refs - (1 if lt_entry else 0))
            cur_poc = 0 if reset5 else 2 * eff_fn
            cur_fn = 0 if reset5 else eff_fn
            dpb = [planes] + dpb[: scap - 1]
            dpb_pocs = [cur_poc] + dpb_pocs[: scap - 1]
            dpb_fnums = [cur_fn] + dpb_fnums[: scap - 1]
            nals.append(nal)
            recons.append(planes)
        rgb_recons = [
            yuv420_to_rgb(
                y[:height, :width],
                u[: (height + 1) // 2, : (width + 1) // 2],
                v[: (height + 1) // 2, : (width + 1) // 2],
            )
            for y, u, v in recons
        ]
        if len(_IPPP_CACHE) > 16:
            _IPPP_CACHE.clear()
        hit = (sps, pps, nals, rgb_recons)
        _IPPP_CACHE[key] = hit
    if not return_recon:
        return hit[0], hit[1], hit[2]
    return hit


def decode_h264_stream(
    sps_nal: bytes, pps_nal: bytes, slice_nals: list[bytes]
) -> tuple[int, int, list[bytes]]:
    """(SPS, PPS, slice NALs) → (width, height, RGB frames); slices
    group into pictures by first_mb_in_slice.  Raises
    MediaFormatError outside the subset."""
    sps = _parse_sps_slice_fields(sps_nal)
    pps = parse_pps(pps_nal)
    dpb = _Dpb()
    poc_ctx: dict = {}
    # group slice NALs into pictures: a slice with first_mb 0 starts
    # a new access unit (multi-slice pictures)
    pictures: list[list[bytes]] = []
    for nal in slice_nals:
        if (nal[0] & 0x1F) == 6:
            continue  # SEI
        if pictures and slice_first_mb(nal) != 0:
            pictures[-1].append(nal)
        else:
            pictures.append([nal])
    frames = [
        _cropped_rgb(dpb.decode(pic, sps, pps, poc_ctx), sps)
        for pic in pictures
    ]
    return sps["width"], sps["height"], frames


# ---------------------------------------------------------------------------
# GOP shapes: the one map from a chain name to the encoder that codes it
# ---------------------------------------------------------------------------

GOPS: dict[str, tuple] = {
    "all-intra": (encode_h264_intra, {}),
    "ippp": (encode_h264_ippp, {}),
    "ipb": (encode_h264_ipb, {}),
    "ipb-temporal": (encode_h264_ipb, {"direct": "temporal"}),
    "ipb-longterm": (encode_h264_ipb, {"longterm": True}),
    "ipb-wp": (encode_h264_ipb, {"weighted": True}),
    "ipb-wpi": (encode_h264_ipb, {"weighted": "implicit"}),
    "ippp-multiref": (encode_h264_ippp, {"n_refs": 3}),
    "ippp-deepref": (encode_h264_ippp, {"n_refs": 10}),
    "ippp-reflist": (encode_h264_ippp, {"n_refs": 3, "reflist": True}),
    "ippp-poc1": (encode_h264_ippp, {"poc_type": 1}),
    "ippp-longterm": (encode_h264_ippp, {"longterm": True}),
    "ippp-mmco5": (encode_h264_ippp, {"mmco5": True}),
    "ippp-wp": (encode_h264_ippp, {"weighted": True}),
    "ippp-ms2": (encode_h264_multislice, {"n_slices": 2}),
}


def encode_gop(
    width: int, height: int, frames_rgb: list[bytes], qp: int, gop: str,
):
    """Frames → (SPS, PPS, [[slice NALs] per picture], closed-loop RGB
    reconstruction) coded by the ``GOPS`` chain named ``gop``;
    an unknown name raises ValueError.  Memoized: fixture lanes code
    the SAME clip for mp4, mkv, Annex-B and the recon comparison, and
    the encoders are deterministic, so one encode serves them all."""
    if gop not in GOPS:
        raise ValueError(f"unknown GOP {gop!r}; known: {', '.join(GOPS)}")
    key = (width, height, tuple(frames_rgb), qp, gop)
    hit = _GOP_CACHE.get(key)
    if hit is None:
        enc, kwargs = GOPS[gop]
        sps, pps, nals, recon = enc(
            width, height, frames_rgb, qp, return_recon=True, **kwargs
        )
        pics = nals if enc is encode_h264_multislice else [[n] for n in nals]
        hit = (sps, pps, pics, recon)
        if len(_GOP_CACHE) > 64:
            _GOP_CACHE.clear()
        _GOP_CACHE[key] = hit
    return hit


_GOP_CACHE: dict = {}
