"""Reference-list modification (§7.3.3.1 / §8.2.4.3), adaptive
marking (§7.3.3.3 / §8.2.5.4 — MMCO 1/2/3/4/6 incl. the LONG-TERM
reference machinery), and frame_num-derived POC (types 1 and 2,
§8.2.1.3 / §8.2.1.4) — round 14, the table-free h264 quarantine
closures.

The closed-loop contracts are the load-bearing checks: the encoder's
``reflist`` chain signals real RPLM + MMCO-1 syntax, and the
``longterm`` chain pins a picture past the short-term window (MMCO
4+3), selects it via RPLM idc 2 and drops it via MMCO 2 — in every
case predicting against the MODIFIED lists, so a decoder that
mis-applies any picNum/LongTermFrameIdx step reconstructs different
pixels.  The ``mmco5`` chain additionally pins the §8.2.5.4.5 stream
reset (all references dropped, frame_num/POC rebased).  Long-term
references under B slices decode since late round 14
(tests/test_h264_blongterm.py).  Still quarantined: semantic
violations (unknown pictures, indices beyond
MaxLongTermFrameIdx)."""

from __future__ import annotations

import numpy as np
import pytest

from reindexer_spark.codecs import MediaFormatError, _unescape_rbsp
from reindexer_spark.h264 import (
    DEFAULT_QP,
    _BitReader,
    _BitWriter,
    _parse_slice_header,
    _parse_sps_slice_fields,
    _ref_list_order,
    _write_slice_header,
    decode_avcc_samples,
    decode_h264_stream,
    decode_picture,
    encode_avcc_samples,
    encode_frame_nal,
    encode_h264_ippp,
    parse_pps,
    write_pps,
)
from reindexer_spark.codecs import write_h264_sps


def _clip(w=64, h=48, n=6, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    frames = []
    for i in range(n):
        f = np.roll(base, shift=(i, i * 2), axis=(0, 1)).copy()
        f[:8, :8, :] = (i * 37) % 256
        frames.append(f.tobytes())
    return frames


# ---------- closed loops ----------


def test_reflist_chain_closed_loop():
    frames = _clip()
    sps, pps, nals, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, n_refs=3, reflist=True
    )
    w, h, dec = decode_h264_stream(sps, pps, nals)
    assert (w, h) == (64, 48)
    assert dec == recons


def test_poc_type1_chain_closed_loop():
    frames = _clip()
    sps, pps, nals, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, poc_type=1
    )
    assert _parse_sps_slice_fields(sps)["poc_type"] == 1
    assert decode_h264_stream(sps, pps, nals)[2] == recons


def test_reflist_chain_through_avcc():
    frames = _clip()
    avcc, samples = encode_avcc_samples(64, 48, frames, 26, gop="ippp-reflist")
    _w, _h, dec = decode_avcc_samples(avcc, samples)
    _s, _p, _n, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, n_refs=3, reflist=True
    )
    assert dec == recons


def test_reflist_headers_really_carry_rplm_and_mmco():
    frames = _clip()
    sps, pps, nals, _ = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, n_refs=3, reflist=True
    )
    sd = _parse_sps_slice_fields(sps)
    pd_ = parse_pps(pps)
    n_rplm = n_mmco = 0
    for nal in nals[1:]:
        r = _BitReader(_unescape_rbsp(nal[1:]))
        *_, info = _parse_slice_header(
            r, sd, pd_, idr=False, nal_ref_idc=nal[0] >> 5
        )
        n_rplm += bool(info["rplm_l0"])
        n_mmco += bool(info["mmco"])
    assert n_rplm == len(frames) - 2  # every multi-ref P (from pic 2)
    assert n_mmco == 1


# ---------- §8.2.4.3 list-order unit vectors ----------


def test_ref_list_order_identity_and_swap():
    # DPB recency order = FrameNums [4, 3, 2], CurrPicNum 5
    fnums = [4, 3, 2]
    assert _ref_list_order(3, None, 5, fnums, 16, 2) == [0, 1]
    # select picNum 3 first (idc 0, diff 2), then picNum 4
    ops = [(0, 1), (1, 0)]
    assert _ref_list_order(3, ops, 5, fnums, 16, 3) == [1, 0, 2]
    # single op: move the oldest to the front, others shift
    assert _ref_list_order(3, [(0, 2)], 5, fnums, 16, 3) == [2, 0, 1]


def test_ref_list_order_wraps_frame_num():
    # CurrPicNum 1 just after a frame_num wrap (MaxFrameNum 16):
    # picNum predictor 1 - 2 = -1 → wraps to 15
    fnums = [0, 15, 14]
    assert _ref_list_order(3, [(0, 1)], 1, fnums, 16, 3) == [1, 0, 2]


def test_ref_list_order_unknown_picture_quarantines():
    with pytest.raises(MediaFormatError, match="not in the DPB"):
        _ref_list_order(2, [(0, 6)], 5, [4, 3], 16, 2)


def test_ref_list_order_overlong_quarantines():
    with pytest.raises(MediaFormatError, match="longer than"):
        _ref_list_order(2, [(0, 0), (0, 0), (1, 0)], 5, [4, 3], 16, 2)


# ---------- B-slice RPLM plumbing (all-skip picture) ----------


def _b_skip_nal(rplm_l0=None, rplm_l1=None, n_mbs=12):
    w = _BitWriter()
    _write_slice_header(
        w, 26, DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=0,
        log2_max_poc_lsb=4, slice_type="B", frame_num=2, poc_lsb=4,
        rplm_l0=rplm_l0, rplm_l1=rplm_l1,
    )
    w.ue(n_mbs)  # mb_skip_run covering the whole picture
    return b"\x01" + w.finish()  # nal_ref_idc 0, type 1


def _two_refs():
    sps = _parse_sps_slice_fields(write_h264_sps(64, 48, num_ref_frames=2))
    pps = parse_pps(write_pps(DEFAULT_QP))
    _n0, pa = encode_frame_nal(_clip(n=1, seed=1)[0], 64, 48, 26,
                               return_planes=True)
    _n1, pb = encode_frame_nal(_clip(n=1, seed=2)[0], 64, 48, 26,
                               return_planes=True)
    # DPB recency order: B(newer, fn=1, poc=2) then A(older, fn=0)
    return sps, pps, [pb, pa], [2, 0], [1, 0]


def test_b_rplm_identity_respecification_matches_default():
    """An RPLM that re-specifies the default order bit-exactly must
    decode identically to the no-RPLM stream — the full modified-list
    branch (parse → _ref_list_order → explicit ctx) runs, the result
    cannot differ."""
    sps, pps, refs, pocs, fnums = _two_refs()
    kw = dict(
        sps=sps, pps=pps, refs=refs, ref_pocs=pocs,
        ref_frame_nums=fnums, ref_motions=[None, None],
        poc_ctx={"poc": 2, "poc_full": 2},
    )
    plain = decode_picture([_b_skip_nal()], **dict(kw, poc_ctx={}))
    # identity for L0: picNum 1 (fn-1) to index 0; identity for L1:
    # picNum 0 then picNum 1 (the §8.2.4.2.3 swapped default)
    # num_ref_idx_active is 1 per list, so identity is one op each:
    # L0 → picNum 1 (the most recent), L1 → picNum 0 (the swapped
    # §8.2.4.2.3 default's head)
    modded = decode_picture(
        [_b_skip_nal(rplm_l0=[(0, 0)], rplm_l1=[(0, 1)])],
        **dict(kw, poc_ctx={}),
    )
    for a, b in zip(plain, modded):
        assert np.array_equal(a, b)


def test_b_rplm_reorder_changes_output():
    sps, pps, refs, pocs, fnums = _two_refs()
    kw = dict(
        sps=sps, pps=pps, refs=refs, ref_pocs=pocs,
        ref_frame_nums=fnums, ref_motions=[None, None],
    )
    plain = decode_picture([_b_skip_nal()], poc_ctx={}, **kw)
    # L0 → the OLDER picture (picNum 0): bi average now reads A twice
    swapped = decode_picture(
        [_b_skip_nal(rplm_l0=[(0, 1)], rplm_l1=[(0, 1)])],
        poc_ctx={}, **kw,
    )
    assert any(
        not np.array_equal(a, b) for a, b in zip(plain, swapped)
    )


def test_b_rplm_without_tracked_dpb_quarantines():
    sps, pps, refs, _pocs, _fnums = _two_refs()
    with pytest.raises(MediaFormatError, match="tracked DPB"):
        decode_picture(
            [_b_skip_nal(rplm_l0=[(0, 0)])], sps, pps,
            ref=refs[0], ref2=refs[1], poc_ctx={},
        )


# ---------- quarantined long-term machinery ----------


def _hdr_bits(**kw):
    w = _BitWriter()
    _write_slice_header(
        w, 26, DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=0,
        log2_max_poc_lsb=4, slice_type="P", frame_num=2, poc_lsb=4,
        **kw,
    )
    w.ue(0)  # pretend one skip run follows
    return b"\x41" + w.finish()  # nal_ref_idc 2, type 1


def _parse_hdr(nal):
    sps = _parse_sps_slice_fields(write_h264_sps(64, 48))
    pps = parse_pps(write_pps(DEFAULT_QP))
    r = _BitReader(_unescape_rbsp(nal[1:]))
    return _parse_slice_header(
        r, sps, pps, idr=False, nal_ref_idc=nal[0] >> 5, poc_ctx={}
    )


def test_rplm_long_term_idc_parses():
    """idc 2 carries long_term_pic_num — now a parsed op, resolved
    against the tracked DPB at application time."""
    nal = _hdr_bits(rplm_l0=[(2, 0)])
    *_, info = _parse_hdr(nal)
    assert info["rplm_l0"] == [(2, 0)]


def test_rplm_long_term_without_longterm_in_dpb_quarantines():
    with pytest.raises(MediaFormatError, match="not in the DPB"):
        _ref_list_order(2, [(2, 0)], 5, [4, 3], 16, 2,
                        ref_lts=[None, None])


def test_rplm_long_term_without_tracked_lts_quarantines():
    with pytest.raises(MediaFormatError, match="tracked DPB"):
        _ref_list_order(2, [(2, 0)], 5, [4, 3], 16, 2)


def test_mmco5_parses_and_chain_closes_the_loop():
    nal = _hdr_bits(mmco=[(5,)])
    *_, info = _parse_hdr(nal)
    assert info["mmco"] == [(5,)]
    frames = _clip(n=6)
    sps, pps, nals, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, mmco5=True
    )
    assert decode_h264_stream(sps, pps, nals)[2] == recons


def test_mmco5_resets_frame_num_and_poc_origin():
    frames = _clip(n=6)
    sps, pps, nals, _ = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, mmco5=True
    )
    sd = _parse_sps_slice_fields(sps)
    pd_ = parse_pps(pps)
    fns = []
    for nal in nals[1:]:
        r = _BitReader(_unescape_rbsp(nal[1:]))
        *_, info = _parse_slice_header(
            r, sd, pd_, idr=False, nal_ref_idc=nal[0] >> 5
        )
        fns.append((info["frame_num"], info["mmco"]))
    # pictures 1..3 count 1,2,3; the reset picture carries (5,); the
    # tail restarts at 1 relative to the new origin
    assert fns[2] == (3, [(5,)])
    assert [f for f, _ in fns] == [1, 2, 3, 1, 2]


def test_mmco_longterm_ops_parse():
    nal = _hdr_bits(mmco=[(4, 1), (3, 0, 0), (2, 0), (6, 0)])
    *_, info = _parse_hdr(nal)
    assert info["mmco"] == [(4, 1), (3, 0, 0), (2, 0), (6, 0)]


def test_dpb_mmco3_without_mmco4_quarantines():
    from reindexer_spark.h264 import _Dpb

    dpb = _Dpb()
    dpb.insert_current("p0", None, 0, 0, None, 2)
    with pytest.raises(MediaFormatError, match="MaxLongTermFrameIdx"):
        dpb.apply_marking([(3, 0, 0)], 1, 16)


def test_dpb_longterm_lifecycle_and_ordering():
    """MMCO 4 opens index space, MMCO 3 converts a short to long,
    sliding never evicts the long, MMCO 2 drops it; the parallel
    lists stay in default-list order (shorts recency-first, then
    longs ascending)."""
    from reindexer_spark.h264 import _Dpb

    dpb = _Dpb()
    dpb.insert_current("p0", None, 0, 0, None, 2)
    # picture 1: pin p0 as long-term 0, then insert p1 as short
    assert dpb.apply_marking([(4, 1), (3, 0, 0)], 1, 16) == (None, False)
    dpb.insert_current("p1", None, 2, 1, None, 2)
    assert dpb.planes == ["p1", "p0"]
    assert dpb.lts == [None, 0]
    # pictures 2..4: the 1-deep short window slides, p0 stays pinned
    for i in (2, 3, 4):
        dpb.insert_current(f"p{i}", None, 2 * i, i, None, 2)
        assert dpb.planes == [f"p{i}", "p0"]
    # MMCO 2 drops the long-term
    dpb.apply_marking([(2, 0)], 5, 16)
    assert dpb.lts == [None]
    assert dpb.planes == ["p4"]


def test_dpb_mmco4_zero_clears_longterms():
    from reindexer_spark.h264 import _Dpb

    dpb = _Dpb()
    dpb.insert_current("p0", None, 0, 0, None, 2)
    dpb.apply_marking([(4, 1), (3, 0, 0)], 1, 16)
    dpb.insert_current("p1", None, 2, 1, None, 2)
    dpb.apply_marking([(4, 0)], 2, 16)  # max_plus1 0: no long-terms
    assert dpb.lts == [None]
    assert dpb.max_lt is None


def test_mmco6_current_becomes_longterm():
    from reindexer_spark.h264 import _Dpb

    dpb = _Dpb()
    dpb.insert_current("p0", None, 0, 0, None, 2)
    cur_lt, reset5 = dpb.apply_marking([(4, 1), (6, 0)], 1, 16)
    assert cur_lt == 0 and not reset5
    dpb.insert_current("p1", None, 2, 1, cur_lt, 2)
    assert dpb.lts == [None, 0]
    assert dpb.planes == ["p0", "p1"]


def test_longterm_chain_closed_loop():
    frames = _clip(n=7)
    sps, pps, nals, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, longterm=True
    )
    assert decode_h264_stream(sps, pps, nals)[2] == recons
    avcc, samples = encode_avcc_samples(
        64, 48, frames, 26, gop="ippp-longterm"
    )
    assert decode_avcc_samples(avcc, samples)[2] == recons


def test_longterm_chain_signals_rplm_idc2_and_mmco():
    frames = _clip(n=7)
    sps, pps, nals, _ = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, longterm=True
    )
    sd = _parse_sps_slice_fields(sps)
    pd_ = parse_pps(pps)
    kinds = []
    for nal in nals[1:]:
        r = _BitReader(_unescape_rbsp(nal[1:]))
        *_, info = _parse_slice_header(
            r, sd, pd_, idr=False, nal_ref_idc=nal[0] >> 5
        )
        kinds.append((info["rplm_l0"], info["mmco"]))
    assert kinds[0][1] == [(4, 1), (3, 0, 0)]  # picture 1 pins lt0
    assert any(rp == [(2, 0)] for rp, _ in kinds)  # idc 2 selection
    assert any(mm and (2, 0) in mm for _, mm in kinds)  # the drop


def test_b_with_longterm_refs_decodes():
    """Round-14 (late): long-term references under B slices left the
    quarantine — a B_Skip picture over a [short, long] DPB decodes
    (the lt-aware list init and direct rules live in
    tests/test_h264_blongterm.py)."""
    sps, pps, refs, pocs, fnums = _two_refs()
    y, _u, _v = decode_picture(
        [_b_skip_nal()], sps, pps, refs=refs, ref_pocs=pocs,
        ref_frame_nums=fnums, ref_motions=[None, None],
        ref_lts=[None, 0], poc_ctx={},
    )
    assert y.shape == (48, 64)


def test_mmco1_unknown_picture_quarantines():
    frames = _clip(n=3)
    sps, pps, nals, _ = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True
    )
    sd = _parse_sps_slice_fields(sps)
    # hand-build a P slice whose MMCO names a picture never decoded
    w = _BitWriter()
    _write_slice_header(
        w, 26, DEFAULT_QP, 0, log2_max_frame_num=4, poc_type=0,
        log2_max_poc_lsb=4, slice_type="P", frame_num=2, poc_lsb=4,
        mmco=[(1, 7)],
    )
    w.ue(sd["mb_w"] * sd["mb_h"])  # all-skip P picture
    bad = b"\x41" + w.finish()
    with pytest.raises(MediaFormatError, match="not in the DPB"):
        decode_h264_stream(sps, pps, [nals[0], nals[1], bad])


def test_idr_long_term_flag_parses():
    frames = _clip(n=1)
    nal = encode_frame_nal(frames[0], 64, 48, 26)
    # the IDR header's two flags are the last bits before the first
    # MB — rewrite via the writer instead: build an IDR header with
    # long_term_reference_flag set
    w = _BitWriter()
    w.ue(0)  # first_mb
    w.ue(7)  # slice_type I (all slices)
    w.ue(0)  # pps_id
    w.u(0, 4)  # frame_num
    w.ue(0)  # idr_pic_id
    w.u(0, 4)  # poc_lsb
    w.u(0, 1)  # no_output_of_prior_pics
    w.u(1, 1)  # long_term_reference_flag → quarantine
    w.se(26 - DEFAULT_QP)
    w.ue(0)
    w.se(0)
    w.se(0)
    hdr = b"\x65" + w.finish()
    sps = _parse_sps_slice_fields(write_h264_sps(64, 48))
    pps = parse_pps(write_pps(DEFAULT_QP))
    r = _BitReader(_unescape_rbsp(hdr[1:]))
    *_, info = _parse_slice_header(r, sps, pps, idr=True,
                                   nal_ref_idc=3, poc_ctx={})
    assert info["idr_longterm"] is True  # §8.2.5.1: IDR → long-term 0
    assert nal  # the real encoder never sets the flag


# ---------- POC types 1 and 2 derivation ----------


def _poc_of(sps_nal, frame_num, nal_ref_idc, poc_ctx, idr=False):
    sps = _parse_sps_slice_fields(sps_nal)
    pps = parse_pps(write_pps(DEFAULT_QP))
    w = _BitWriter()
    _write_slice_header(
        w, 26, DEFAULT_QP, 0,
        log2_max_frame_num=sps["log2_max_frame_num"],
        poc_type=sps["poc_type"], log2_max_poc_lsb=4,
        slice_type="I" if idr else "P", frame_num=frame_num,
    )
    w.ue(0)
    nal = (b"\x65" if idr else bytes([nal_ref_idc << 5 | 1])) + w.finish()
    r = _BitReader(_unescape_rbsp(nal[1:]))
    *_, info = _parse_slice_header(
        r, sps, pps, idr=idr, nal_ref_idc=nal_ref_idc, poc_ctx=poc_ctx
    )
    return info["poc"]


def test_poc_type1_derivation_cycle():
    sps_nal = write_h264_sps(64, 48, poc_type=1)
    ctx: dict = {}
    assert _poc_of(sps_nal, 0, 3, ctx, idr=True) == 0
    assert _poc_of(sps_nal, 1, 3, ctx) == 2
    assert _poc_of(sps_nal, 2, 3, ctx) == 4
    # a non-reference picture with offset_for_non_ref_pic == 0
    # derives the SAME POC as its predecessor (absFrameNum backs up
    # one step) — a tie is not strictly forward, so the low-delay
    # subset quarantines it rather than guess an order
    with pytest.raises(MediaFormatError, match="non-monotonic"):
        _poc_of(sps_nal, 3, 0, ctx)


def test_poc_type1_frame_num_wrap():
    sps_nal = write_h264_sps(64, 48, poc_type=1)
    ctx: dict = {}
    assert _poc_of(sps_nal, 0, 3, ctx, idr=True) == 0
    for fn in range(1, 16):
        assert _poc_of(sps_nal, fn, 3, ctx) == 2 * fn
    # wrap: frame_num 0 < prev 15 → frame_num_offset += 16
    assert _poc_of(sps_nal, 0, 3, ctx) == 32
    assert _poc_of(sps_nal, 1, 3, ctx) == 34


def test_poc_type1_display_reorder_quarantines():
    """A stream whose derived POC moves backwards (without an IDR) is
    outside the low-delay subset."""
    sps_nal = write_h264_sps(64, 48, poc_type=1)
    ctx: dict = {}
    assert _poc_of(sps_nal, 0, 3, ctx, idr=True) == 0
    assert _poc_of(sps_nal, 3, 3, ctx) == 6
    with pytest.raises(MediaFormatError, match="non-monotonic"):
        # frame_num 1 < prev 3 triggers the wrap rule → offset 16 →
        # POC 34 — monotonic, so craft the true backward case via a
        # repeated frame_num instead (POC repeats → not forward)
        _poc_of(sps_nal, 3, 3, ctx)


def test_idr_frame_num_must_be_zero_for_derived_poc():
    sps_nal = write_h264_sps(64, 48, poc_type=1)
    with pytest.raises(MediaFormatError, match="IDR frame_num"):
        _poc_of(sps_nal, 2, 3, {}, idr=True)


# ---------- Annex-B walker parity (round 14: full _Dpb there too) ----------


@pytest.mark.parametrize("gop,kw", [
    ("ippp-reflist", {"n_refs": 3, "reflist": True}),
    ("ippp-poc1", {"poc_type": 1}),
    ("ippp-longterm", {"longterm": True}),
    ("ippp-mmco5", {"mmco5": True}),
    ("ippp-multiref", {"n_refs": 3}),
])
def test_annexb_walker_decodes_all_marking_chains(gop, kw):
    """The elementary-stream walker shares the avcC walker's _Dpb —
    raw .h264 dumps with RPLM / long-term marking / MMCO 5 / POC
    type 1 / multi-reference windows decode byte-identically to the
    encoder's closed loop (they previously quarantined on the old
    2-deep ad-hoc DPB)."""
    from reindexer_spark.h264 import (
        decode_h264_annexb_stream,
        encode_h264_annexb,
    )

    frames = _clip(n=7)
    stream = encode_h264_annexb(64, 48, frames, 26, gop=gop)
    _s, _p, _n, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, **kw
    )
    assert decode_h264_annexb_stream(stream)[2] == recons


@pytest.mark.parametrize("kw", [
    {"n_refs": 3, "reflist": True},
    {"longterm": True},
])
def test_chains_survive_frame_num_wrap(kw):
    """20+ pictures cross the frame_num wrap (log2_max_frame_num=4 →
    16): RPLM's modular picNum predictor and the long-term pin must
    keep resolving the right DPB entries on the far side."""
    frames = _clip(n=20, seed=11)
    sps, pps, nals, recons = encode_h264_ippp(
        64, 48, frames, 26, return_recon=True, **kw
    )
    assert decode_h264_stream(sps, pps, nals)[2] == recons


def test_fuzz_quarantine_contract_round14_paths():
    """The round-14 decode paths (RPLM, long-term marking, MMCO 5,
    POC type 1) keep the quarantine contract under mutation: a
    corrupted/truncated/reordered stream either decodes or raises
    MediaFormatError — never an uncontrolled exception.  Same
    deterministic schedule as the round-13 fuzz."""
    import numpy as np

    from reindexer_spark import h264 as H

    rng = np.random.default_rng(14)
    frames = _clip(n=6)
    cases = [
        ("reflist", *H.encode_h264_ippp(64, 48, frames, qp=26,
                                        n_refs=3, reflist=True)),
        ("longterm", *H.encode_h264_ippp(64, 48, frames, qp=26,
                                         longterm=True)),
        ("mmco5", *H.encode_h264_ippp(64, 48, frames, qp=26,
                                      mmco5=True)),
        ("poc1", *H.encode_h264_ippp(64, 48, frames, qp=26,
                                     poc_type=1)),
        ("b-longterm", *H.encode_h264_ipb(64, 48, frames, qp=26,
                                          longterm=True)),
    ]
    for _label, sps, pps, nals in cases:
        for _trial in range(60):
            mode = rng.integers(0, 5)
            mut = list(nals)
            i = int(rng.integers(1, len(mut)))
            nal = bytearray(mut[i])
            if mode == 0:
                mut[i] = bytes(nal[: int(rng.integers(2, len(nal)))])
            elif mode == 1:
                mut[i] = bytes(
                    nal[: int(rng.integers(2, len(nal)))]
                ) + bytes(
                    rng.integers(0, 256, int(rng.integers(1, 20)),
                                 dtype=np.uint8)
                )
            elif mode == 2:
                for _ in range(5):
                    p = int(rng.integers(1, len(nal)))
                    nal[p] = int(rng.integers(0, 256))
                mut[i] = bytes(nal)
            elif mode == 3:
                del mut[i]
            else:
                mut.insert(i, mut[i])
            try:
                H.decode_h264_stream(sps, pps, mut)
            except MediaFormatError:
                pass  # the contract: quarantine, never crash


def test_deep_dpb_12_reference_chain_recon_exact():
    """Round 16: the reference subset widened from 8 to the spec's
    16-frame DPB ceiling — a 12-reference IPPP chain must decode
    byte-exact against the closed loop, and num_ref_idx_active
    beyond 16 still quarantines."""
    import numpy as np

    from reindexer_spark.h264 import (
        decode_h264_annexb_stream,
        encode_h264_ippp,
    )

    rng = np.random.default_rng(8)
    w, h = 32, 32
    base = rng.integers(0, 256, (h, w, 3))
    frames = [
        np.clip(base + rng.integers(-20, 21, (h, w, 3)), 0, 255)
        .astype(np.uint8)
        .tobytes()
        for _ in range(14)
    ]
    sps, pps, nals, recons = encode_h264_ippp(
        w, h, frames, 26, n_refs=12, return_recon=True
    )
    stream = b"".join(
        b"\x00\x00\x00\x01" + n for n in (sps, pps, *nals)
    )
    dw, dh, out = decode_h264_annexb_stream(stream)
    assert (dw, dh) == (w, h)
    assert [bytes(f) for f in out] == [bytes(f) for f in recons]

    # the cap: a P header with num_ref_idx_active 16 parses, 17 refuses
    spsd = _parse_sps_slice_fields(
        write_h264_sps(w, h, 66, 30, num_ref_frames=16)
    )
    ppsd = parse_pps(write_pps(DEFAULT_QP))

    def p_header(n_active: int) -> None:
        bw = _BitWriter()
        bw.ue(0)  # first_mb_in_slice
        bw.ue(0)  # slice_type P
        bw.ue(0)  # pic_parameter_set_id
        bw.u(0, 4)  # frame_num
        bw.u(0, 4)  # pic_order_cnt_lsb
        bw.u(1, 1)  # num_ref_idx_active_override_flag
        bw.ue(n_active - 1)
        bw.u(0, 1)  # no reference-list modification
        bw.se(0)  # slice_qp_delta
        bw.ue(1)  # disable_deblocking_filter_idc 1: no offsets follow
        bw.u(0, 8)  # padding
        _parse_slice_header(
            _BitReader(bw.finish()), spsd, ppsd, idr=False, nal_ref_idc=0
        )

    p_header(16)
    with pytest.raises(MediaFormatError):
        p_header(17)
