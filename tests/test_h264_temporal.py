"""Multi-reference P and temporal-direct B contract — round 13.

Two subsets the round-12 module header still quarantined, now decoded
for real (pure prediction/MV math, no new empirical tables):

- MULTI-REFERENCE P (§7.3.5.1/.2 ref_idx_l0 te(v) signalling, the
  §8.4.1.3 refIdx-matching MV predictor, the §8.7.2.1
  same-reference-PICTURE deblock rule): every P picture codes against
  the N most recent references.  The load-bearing fixture is the
  flip-flop clip — two alternating scenes, where the best match is two
  pictures back and single-reference coding degenerates to intra.
- TEMPORAL DIRECT B (§8.4.1.2.3): B_Skip/B_Direct_16x16 motion by POC
  scaling of the colocated block's MV in RefPicList1[0], with the
  colocated picture's own reference mapped into the current list 0.

The invariant is the same closed loop as the P/B suites: encoder
reconstruction ≡ decoder output, byte for byte, through deblocking.
"""

from __future__ import annotations

import numpy as np
import pytest

from reindexer_spark import h264 as H
from reindexer_spark.codecs import (
    MediaFormatError,
    decode_mkv,
    decode_mp4,
    encode_mkv_coded,
    encode_mp4_coded,
)
from tests.test_h264_inter import _moving_frames


def _flip_flop(w: int, h: int, n: int, seed: int = 9):
    """Two alternating noise scenes: frame i matches frame i-2, never
    frame i-1 — the canonical multi-reference payoff (background
    flash / occlusion toggling)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    b = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    return [(a, b)[i % 2] for i in range(n)]


@pytest.mark.parametrize("n_refs", [2, 3])
def test_multiref_closed_loop_equals_decode(n_refs):
    w, h = 48, 32
    frames = _flip_flop(w, h, 5)
    sps, pps, nals, recons = H.encode_h264_ippp(
        w, h, frames, qp=26, return_recon=True, n_refs=n_refs
    )
    dw, dh, dec = H.decode_h264_stream(sps, pps, nals)
    assert (dw, dh) == (w, h)
    assert dec == recons


def test_multiref_beats_single_ref_on_flip_flop():
    """The POINT of multiple references: the flip-flop clip codes far
    smaller with the two-back reference addressable."""
    w, h = 48, 32
    frames = _flip_flop(w, h, 5)
    _, _, multi = H.encode_h264_ippp(w, h, frames, qp=26, n_refs=2)
    _, _, single = H.encode_h264_ippp(w, h, frames, qp=26, n_refs=1)
    assert sum(len(n) for n in multi) < sum(len(n) for n in single) // 2, (
        sum(len(n) for n in multi), sum(len(n) for n in single)
    )


def test_multiref_ref_idx_actually_engages():
    """Decode the flip-flop chain and check the motion state: some P
    picture predicts from refIdx 1 (the two-back reference)."""
    w, h = 48, 32
    frames = _flip_flop(w, h, 5)
    sps, pps, nals = H.encode_h264_ippp(w, h, frames, qp=26, n_refs=2)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    refs: list = []
    ref_pocs: list = []
    poc_ctx: dict = {}
    saw_ref1 = False
    for nal in nals:
        sink: dict = {}
        pl = H.decode_frame_nal(
            nal, sd, pd,
            ref=refs[0] if refs else None,
            motion_sink=sink, poc_ctx=poc_ctx,
            refs=refs if len(refs) > 1 else None,
            ref_pocs=ref_pocs if refs else None,
        )
        if sink.get("ref0") is not None and sink["ref0"].max() > 0:
            saw_ref1 = True
        refs = [pl] + refs[:7]
        ref_pocs = [sink.get("poc")] + ref_pocs[:7]
    assert saw_ref1


def test_multiref_slice_header_roundtrip():
    w, h = 32, 32
    frames = _flip_flop(w, h, 4)
    sps, pps, nals = H.encode_h264_ippp(w, h, frames, qp=26, n_refs=3)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    # third P picture: DPB holds 3 references
    r = H._BitReader(H._unescape_rbsp(nals[3][1:]))
    stype, _qp, _d, _a, _b, info = H._parse_slice_header(
        r, sd, pd, idr=False, nal_ref_idc=2
    )
    assert stype == "P" and info["num_ref_l0"] == 3


def test_multiref_needs_the_dpb():
    """num_ref_idx_active larger than the decoded DPB quarantines —
    never indexes a picture that does not exist."""
    w, h = 32, 32
    frames = _flip_flop(w, h, 4)
    sps, pps, nals = H.encode_h264_ippp(w, h, frames, qp=26, n_refs=3)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    r0 = H.decode_frame_nal(nals[0], sd, pd)
    r1 = H.decode_frame_nal(nals[1], sd, pd, ref=r0)
    r2 = H.decode_frame_nal(
        nals[2], sd, pd, ref=r1, refs=[r1, r0], ref_pocs=[2, 0]
    )
    with pytest.raises(MediaFormatError, match="DPB"):
        # the 3-reference slice with only a 2-deep list
        H.decode_frame_nal(nals[3], sd, pd, ref=r2, refs=[r2, r1],
                           ref_pocs=[4, 2])


def test_te_codes_are_inverse():
    w_ = H._BitWriter()
    vals = [(0, 1), (1, 1), (0, 2), (1, 2), (2, 2), (5, 7)]
    for v, cmax in vals:
        w_.te(v, cmax)
    r = H._BitReader(w_.finish())
    for v, cmax in vals:
        assert r.te(cmax) == v
    # te with cMax 1 is a single INVERTED bit (§9.1.1)
    w2 = H._BitWriter()
    w2.te(0, 1)
    w2.te(1, 1)
    assert w2.bits[:2] == [1, 0]


# ---------------------------------------------------------------------------
# temporal direct
# ---------------------------------------------------------------------------


def test_temporal_ipb_closed_loop_equals_decode():
    w, h = 48, 32
    frames = _moving_frames(w, h, 7)
    sps, pps, nals, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True, direct="temporal"
    )
    dw, dh, dec = H.decode_h264_stream(sps, pps, nals)
    assert (dw, dh) == (w, h)
    assert dec == recons
    # structure: IDR, then alternating ref P and non-ref B
    assert [n[0] >> 5 for n in nals] == [3, 2, 0, 2, 0, 2, 0]


def test_temporal_direct_scaling_math():
    """Pin the §8.4.1.2.3 arithmetic on a hand-computed case: cur POC
    8, colPic POC 6, refPicCol POC 2 → tb = 6, td = 4,
    tx = (16384 + 2) // 4 = 4096, dsf = (6*4096 + 32) >> 6 = 384;
    mvCol (8, -4) → mvL0 = ((384*8 + 128) >> 8, (384*-4 + 128) >> 8)
    = (12, -6), mvL1 = mvL0 - mvCol = (4, -2)."""
    mb_w = mb_h = 1
    col = H._intra_motion(mb_w, mb_h)
    col["inter"][:] = True
    col["uses0"][:] = True
    col["mv"][:, :, 0] = 8
    col["mv"][:, :, 1] = -4
    col["l0_pocs"] = (2,)
    dummy = (
        np.zeros((16, 16), np.uint8),
        np.zeros((8, 8), np.uint8),
        np.zeros((8, 8), np.uint8),
    )
    st = H._FrameState(mb_w, mb_h)
    ctx = H._b_ctx(
        [dummy, dummy, dummy], direct_spatial=False, col=col,
        l0_pocs=[7, 6, 2], poc=8, n_ref_l0=3,
    )
    use0, use1, parts = H._b_direct_temporal(st, 0, 0, ctx)
    assert use0 and use1
    for mv0, mv1, r0, r1 in parts:
        assert (mv0, mv1, r0, r1) == ((12, -6), (4, -2), 2, 0)


def test_temporal_direct_td_zero_degenerates():
    """td == 0 (colPic == refPicCol POC): mvL0 = mvCol, mvL1 = 0."""
    mb_w = mb_h = 1
    col = H._intra_motion(mb_w, mb_h)
    col["inter"][:] = True
    col["uses0"][:] = True
    col["mv"][:, :, 0] = 8
    col["mv"][:, :, 1] = -4
    col["l0_pocs"] = (6,)
    dummy = (
        np.zeros((16, 16), np.uint8),
        np.zeros((8, 8), np.uint8),
        np.zeros((8, 8), np.uint8),
    )
    st = H._FrameState(mb_w, mb_h)
    ctx = H._b_ctx(
        [dummy, dummy], direct_spatial=False, col=col,
        l0_pocs=[6, 6], poc=8,
    )
    _u0, _u1, parts = H._b_direct_temporal(st, 0, 0, ctx)
    assert parts[0][:2] == ((8, -4), (0, 0))


def test_temporal_direct_unmapped_reference_quarantines():
    """A colocated block referencing a picture NOT in the current
    list 0 refuses (non-conforming stream) — never guesses."""
    mb_w = mb_h = 1
    col = H._intra_motion(mb_w, mb_h)
    col["inter"][:] = True
    col["uses0"][:] = True
    col["l0_pocs"] = (99,)  # not in the current L0
    dummy = (
        np.zeros((16, 16), np.uint8),
        np.zeros((8, 8), np.uint8),
        np.zeros((8, 8), np.uint8),
    )
    st = H._FrameState(mb_w, mb_h)
    ctx = H._b_ctx(
        [dummy, dummy, dummy], direct_spatial=False, col=col,
        l0_pocs=[6, 4, 2], poc=8,
    )
    with pytest.raises(MediaFormatError, match="not in RefPicList0"):
        H._b_direct_temporal(st, 0, 0, ctx)


def test_temporal_direct_engages_on_constant_pan():
    """Constant-velocity pan: the colocated motion scaled by POC
    distance predicts the B exactly, so the temporal chain's B frames
    carry direct/skip macroblocks."""
    w, h = 64, 48
    frames = _moving_frames(w, h, 7)
    sps, pps, nals = H.encode_h264_ipb(
        w, h, frames, qp=26, direct="temporal"
    )
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    refs: list = []
    motions: list = []
    pocs: list = []
    poc_ctx: dict = {}
    hist: dict = {}
    for nal in nals:
        if nal[0] >> 5 == 0:
            hh = H.b_mode_histogram(
                nal, sd, pd, None, None, col=motions[1],
                refs=refs, ref_pocs=pocs,
            )
            for k, v in hh.items():
                hist[k] = hist.get(k, 0) + v
        else:
            sink: dict = {}
            pl = H.decode_frame_nal(
                nal, sd, pd,
                ref=refs[0] if refs else None,
                ref2=refs[1] if len(refs) > 1 else None,
                motion_sink=sink, poc_ctx=poc_ctx,
                refs=refs if len(refs) > 1 else None,
                ref_pocs=pocs if refs else None,
            )
            refs = [pl] + refs[:7]
            motions = [sink] + motions[:7]
            pocs = [sink["poc"]] + pocs[:7]
    # "bsub" is a secondary flag on B_8x8 macroblocks, not a mode
    assert sum(
        v for k, v in hist.items() if k != "bsub"
    ) == 3 * (w // 16) * (h // 16)
    assert hist["direct"] + hist["skip"] > 0, hist


def test_temporal_b_frames_removable():
    """Temporal B pictures are still non-reference: dropping one must
    not change the remaining frames."""
    w, h = 48, 32
    frames = _moving_frames(w, h, 5)
    sps, pps, nals, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True, direct="temporal"
    )
    _, _, dec = H.decode_h264_stream(
        sps, pps, [nals[0], nals[1], nals[3], nals[4]]
    )
    assert dec == [recons[0], recons[1], recons[3], recons[4]]


@pytest.mark.parametrize("gop", list(H.GOPS))
def test_new_gops_through_containers(gop):
    """Every GOPS chain decodes to its closed-loop reconstruction
    through mp4, mkv and Annex-B, and the container sync flags follow
    the coded NAL types: every sample for the all-IDR chain, only the
    first otherwise."""
    w, h = 48, 32
    frames = _moving_frames(w, h, 5)
    recons = H.encode_gop(w, h, frames, 26, gop)[3]
    mp4 = encode_mp4_coded(w, h, intra_frames=frames, qp=26, gop=gop)
    mkv = encode_mkv_coded(w, h, intra_frames=frames, qp=26, gop=gop)
    for payload, dec in ((mp4, decode_mp4), (mkv, decode_mkv)):
        dw, dh, _durs, out, sync = dec(payload)
        assert (dw, dh) == (w, h)
        assert out == recons
        if gop == "all-intra":
            assert all(sync)
        else:
            assert sync[0] and not any(sync[1:])
    es = H.encode_h264_annexb(w, h, frames, 26, gop=gop)
    assert H.decode_h264_annexb_stream(es) == (w, h, recons)


def test_unknown_gop_raises():
    frames = _moving_frames(16, 16, 2)
    with pytest.raises(ValueError):
        H.encode_h264_annexb(16, 16, frames, gop="ippp-ms3")
    with pytest.raises(ValueError):
        encode_mp4_coded(16, 16, intra_frames=frames, gop="ippp-ms3")
