"""B-slice (bi-predictive inter) contract — round 12.

The load-bearing invariant mirrors the P suite: the encoder's
closed-loop reconstruction of an IPB chain (low-delay B: coded order ==
display order, references are the two most recent FILTERED reference
pictures, B frames are non-reference NALs) is byte-identical to the
decoder's output — through deblocking with the per-list §8.7.2.1
strengths.  Plus the quarantine edges of the B subset: direct modes,
B_Skip runs, missing references."""

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
    probe_media,
)
from tests.test_h264_inter import _moving_frames


@pytest.mark.parametrize("w,h", [(48, 32), (34, 22), (16, 16)])
def test_ipb_closed_loop_equals_decode(w, h):
    frames = _moving_frames(w, h, 5)
    sps, pps, nals, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True
    )
    dw, dh, dec = H.decode_h264_stream(sps, pps, nals)
    assert (dw, dh) == (w, h)
    assert len(dec) == len(frames)
    for i, (r, d) in enumerate(zip(recons, dec)):
        assert r == d, f"frame {i} decode != closed-loop recon"
    # structure: IDR, then alternating ref P (nal_ref_idc 2) and
    # non-ref B (nal_ref_idc 0), coded order == display order
    assert nals[0][0] & 0x1F == 5
    assert all(n[0] & 0x1F == 1 for n in nals[1:])
    assert [n[0] >> 5 for n in nals] == [3, 2, 0, 2, 0]


def test_b_frames_do_not_enter_the_reference_chain():
    """Corrupting a B frame's residual must not affect later frames:
    B pictures are non-reference, so the P chain ignores them."""
    w, h = 48, 32
    frames = _moving_frames(w, h, 5)
    sps, pps, nals, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True
    )
    # decode with the first B (index 2) REMOVED: remaining frames are
    # exactly the IPPP-subsequence reconstruction
    _, _, dec = H.decode_h264_stream(
        sps, pps, [nals[0], nals[1], nals[3], nals[4]]
    )
    assert dec == [recons[0], recons[1], recons[3], recons[4]]


def _noise_pan(w: int, h: int, n: int, seed: int = 3):
    """Translating window over a fixed noise field — the shape of the
    video lanes' digest-seeded fixtures, where averaging two
    references actually pays (per-pixel noise is where bi-prediction
    beats single-reference; on clean gradients it cannot)."""
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (h + 2 * n, w + 2 * n, 3), dtype=np.uint8)
    return [base[i : i + h, i : i + w].tobytes() for i in range(n)]


def test_bi_prediction_beats_p_only_rate():
    """The POINT of B frames: with two references to average, a
    translating-noise clip codes smaller than the P-only chain."""
    w, h = 64, 48
    frames = _noise_pan(w, h, 6)
    _, _, ipb = H.encode_h264_ipb(w, h, frames, qp=26)
    _, _, ippp = H.encode_h264_ippp(w, h, frames, qp=26)
    assert sum(len(n) for n in ipb) < sum(len(n) for n in ippp), (
        sum(len(n) for n in ipb), sum(len(n) for n in ippp)
    )
    # and the B pictures cost less than the same frames coded intra
    _, _, intra = H.encode_h264_intra(w, h, frames, qp=26)
    b_idx = [i for i, n in enumerate(ipb) if n[0] >> 5 == 0]
    assert b_idx and sum(len(ipb[i]) for i in b_idx) < sum(
        len(intra[i]) for i in b_idx
    )


def test_b_mb_types_exercised():
    """The bi-predictive machinery must actually ENGAGE: on a
    translating-noise clip the decoded B frames' mode histogram
    (b_mode_histogram — the decoder's own mb_type walk) contains Bi or
    L1 macroblocks, not just the L0 fallback that would make B a more
    expensive P.  The clip is the textbook bi case: the B frame is the
    AVERAGE of its two references (a cross-fade), so neither single
    list matches but (predL0 + predL1 + 1) >> 1 is near-exact."""
    w, h = 64, 48
    rng = np.random.default_rng(11)
    f0 = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    f1 = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    fade = ((f0.astype(np.int32) + f1 + 1) // 2).astype(np.uint8)
    frames = [f0.tobytes(), f1.tobytes(), fade.tobytes(), f1.tobytes()]
    sps, pps, nals = H.encode_h264_ipb(w, h, frames, qp=26)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    refs: list = []
    hist = {"l0": 0, "l1": 0, "bi": 0, "intra": 0, "direct": 0,
            "skip": 0}
    for nal in nals:
        if nal[0] >> 5 == 0:
            hh = H.b_mode_histogram(nal, sd, pd, refs[0], refs[1])
            for k in hist:
                hist[k] += hh[k]
        else:
            pl = H.decode_frame_nal(
                nal, sd, pd,
                ref=refs[0] if refs else None,
                ref2=refs[1] if len(refs) > 1 else None,
            )
            refs = [pl] + refs[:1]
    # n=4 → one B frame (index 2), 12 macroblocks
    assert sum(hist.values()) == (w // 16) * (h // 16)
    # two-list prediction engaged: explicit Bi/L1, or spatial direct
    # (whose zero-prediction on this static cross-fade IS the bi
    # average — both lists referenced, no motion syntax)
    assert (
        hist["bi"] + hist["l1"] + hist["direct"] + hist["skip"] > 0
    ), hist


def test_b_without_two_references_quarantines():
    w, h = 16, 16
    frames = _moving_frames(w, h, 3)
    sps, pps, nals = H.encode_h264_ipb(w, h, frames, qp=26)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    with pytest.raises(MediaFormatError):
        H.decode_frame_nal(nals[2], sd, pd, ref=None, ref2=None)
    one = H.decode_frame_nal(nals[0], sd, pd)
    with pytest.raises(MediaFormatError):
        H.decode_frame_nal(nals[2], sd, pd, ref=one, ref2=None)


def test_b_skip_decodes_as_spatial_direct():
    """B_Skip (round 12): a skipped macroblock reconstructs EXACTLY
    the spatial-direct prediction — here the first MB of a picture,
    whose direct derivation is the zero-prediction (no inter
    neighbours → both refIdx < 0 → bi with zero MVs)."""
    w, h = 16, 16
    frames = _moving_frames(w, h, 3)
    sps, pps, nals = H.encode_h264_ipb(w, h, frames, qp=26)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    r0 = H.decode_frame_nal(nals[0], sd, pd)
    r1 = H.decode_frame_nal(nals[1], sd, pd, ref=r0)
    st = H._FrameState(sd["mb_w"], sd["mb_h"])
    w_ = H._BitWriter()
    w_.ue(1)  # mb_skip_run = 1 (the whole 16x16 picture)
    H._decode_b_slice_mbs(
        H._BitReader(w_.finish()), st, 26, 0, H._b_ctx([r1, r0])
    )
    # zero-prediction: the bi average of the two references
    expect = (
        r1[0][:16, :16].astype(int) + r0[0][:16, :16].astype(int) + 1
    ) >> 1
    assert (st.y[:16, :16].astype(int) == expect).all()
    assert st.b_mode_counts["skip"] == 1
    # an overrunning skip run still refuses
    st2 = H._FrameState(sd["mb_w"], sd["mb_h"])
    w2 = H._BitWriter()
    w2.ue(5)
    with pytest.raises(MediaFormatError):
        H._decode_b_slice_mbs(
            H._BitReader(w2.finish()), st2, 26, 0, H._b_ctx([r1, r0])
        )


def test_ipb_through_mp4_and_mkv_containers():
    w, h = 48, 32
    frames = _moving_frames(w, h, 5)
    _, _, _, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True
    )
    mp4 = encode_mp4_coded(w, h, intra_frames=frames, qp=26, gop="ipb")
    mkv = encode_mkv_coded(w, h, intra_frames=frames, qp=26, gop="ipb")
    for payload, dec in ((mp4, decode_mp4), (mkv, decode_mkv)):
        dw, dh, _durs, out, sync = dec(payload)
        assert (dw, dh) == (w, h)
        assert out == recons
        # only the IDR is a sync sample
        assert sync[0] and not any(sync[1:])
    meta = probe_media(mp4)
    assert meta["width"] == w and meta["height"] == h


def test_annexb_ipb_stream_decodes():
    w, h = 32, 32
    frames = _moving_frames(w, h, 4)
    data = H.encode_h264_annexb(w, h, frames, qp=26, gop="ipb")
    dw, dh, out = H.decode_h264_annexb_stream(data)
    _, _, _, recons = H.encode_h264_ipb(w, h, frames, qp=26,
                                        return_recon=True)
    assert (dw, dh) == (w, h) and out == recons


def test_temporal_direct_header_parses():
    """direct_spatial_mv_pred_flag = 0 (temporal direct) parses since
    round 13 — the flag lands in the header info for the decode
    dispatch (the decode itself is covered by
    tests/test_h264_temporal.py)."""
    w, h = 16, 16
    frames = _moving_frames(w, h, 3)
    sps, pps, nals = H.encode_h264_ipb(
        w, h, frames, qp=26, direct="temporal"
    )
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    b_nal = nals[2]
    assert b_nal[0] >> 5 == 0
    r_ = H._BitReader(H._unescape_rbsp(b_nal[1:]))
    stype, _qp, _d, _a, _b, info = H._parse_slice_header(
        r_, sd, pd, idr=False, nal_ref_idc=0
    )
    assert stype == "B" and info["direct_spatial"] is False
    # temporal direct WITHOUT picture order context must refuse, not
    # guess: a B_Skip run under a temporal header with no POCs
    # quarantines at the derivation
    refs = []
    poc_ctx: dict = {}
    for nal in nals[:2]:
        pl = H.decode_frame_nal(
            nal, sd, pd, ref=refs[0] if refs else None, poc_ctx=poc_ctx
        )
        refs = [pl] + refs
    st = H._FrameState(sd["mb_w"], sd["mb_h"])
    w_ = H._BitWriter()
    w_.ue(1)  # mb_skip_run = 1 → direct derivation required
    with pytest.raises(MediaFormatError, match="temporal direct"):
        H._decode_b_slice_mbs(
            H._BitReader(w_.finish()), st, 26, 0,
            H._b_ctx([refs[0], refs[1]], direct_spatial=False),
        )


def test_static_b_frames_collapse_to_skip():
    """A still scene's B frames degenerate to B_Skip runs: spatial
    direct predicts the (static) picture exactly once the loop
    settles, so the B NALs shrink toward a single skip-run and the
    histogram is skip-dominated."""
    w, h = 64, 48
    frames = _moving_frames(w, h, 5, still=True)
    sps, pps, nals = H.encode_h264_ipb(w, h, frames, qp=28)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    refs: list = []
    ref_motion: list = []
    skip_total = mb_total = 0
    b_sizes = []
    for nal in nals:
        if nal[0] >> 5 == 0:
            hh = H.b_mode_histogram(
                nal, sd, pd, refs[0], refs[1],
                col=ref_motion[1] if len(ref_motion) > 1 else None,
            )
            skip_total += hh["skip"] + hh["direct"]
            mb_total += sum(hh.values())
            b_sizes.append(len(nal))
        else:
            sink: dict = {}
            pl = H.decode_frame_nal(
                nal, sd, pd,
                ref=refs[0] if refs else None,
                ref2=refs[1] if len(refs) > 1 else None,
                col_motion=(
                    ref_motion[1] if len(ref_motion) > 1 else None
                ),
                motion_sink=sink,
            )
            refs = [pl] + refs[:1]
            ref_motion = [sink or None] + ref_motion[:1]
    assert mb_total == 2 * (w // 16) * (h // 16)
    # the first B still codes residue against the settling loop; the
    # majority of B macroblocks across the chain go direct/skip
    assert skip_total > mb_total // 2, (skip_total, mb_total)
    assert min(b_sizes) < 48, b_sizes  # a skip-dominated B is tiny


def test_ipb_closed_loop_with_direct_and_skip():
    """Closed loop must hold THROUGH the direct/skip paths: a mixed
    clip (translation + static tail) forces skip, direct, explicit
    modes and the colZeroFlag quadrant zeroing into one chain."""
    w, h = 48, 32
    base = _moving_frames(w, h, 3)
    frames = base + [base[-1], base[-1]]  # static tail
    sps, pps, nals, recons = H.encode_h264_ipb(
        w, h, frames, qp=26, return_recon=True
    )
    dw, dh, dec = H.decode_h264_stream(sps, pps, nals)
    assert (dw, dh) == (w, h)
    assert dec == recons


def test_display_reordered_stream_quarantines():
    """Round-12 review: a conformant DISPLAY-REORDERED B stream (the
    common shape: the B's POC sits between its references') must
    refuse — the recency-ordered DPB would hand it swapped L0/L1
    lists and emit wrong frames.  The walkers thread a shared poc_ctx;
    a backward POC step is a MediaFormatError, and the low-delay
    chain (strictly increasing POC) still decodes."""
    w, h = 16, 16
    frames = _moving_frames(w, h, 3)
    sps, pps, nals = H.encode_h264_ipb(w, h, frames, qp=26)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    ctx: dict = {}
    r0 = H.decode_frame_nal(nals[0], sd, pd, poc_ctx=ctx)
    r1 = H.decode_frame_nal(nals[1], sd, pd, ref=r0, poc_ctx=ctx)
    assert ctx["poc"] == 2  # the P picture's poc_lsb
    # craft a B header whose POC steps BACKWARD (display reorder)
    w2 = H._BitWriter()
    H._write_slice_header(
        w2, 26, H.DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=0,
        log2_max_poc_lsb=4, slice_type="B", frame_num=2, poc_lsb=1,
    )
    bad = b"\x01" + w2.finish()
    with pytest.raises(MediaFormatError, match="non-monotonic"):
        H.decode_frame_nal(bad, sd, pd, ref=r1, ref2=r0, poc_ctx=ctx)
    # the genuine low-delay B (poc 4) still decodes under the context
    out = H.decode_frame_nal(nals[2], sd, pd, ref=r1, ref2=r0,
                             poc_ctx=ctx)
    assert out[0].shape == (16, 16)
