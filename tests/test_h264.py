"""Intra-only H.264 codec (reindexer_spark.h264) — round-8 VERDICT
stretch #8.

Contract under test:
- CAVLC entropy layer round-trips arbitrary residual blocks.
- Decoder output is BIT-EXACT against the encoder's closed-loop
  reconstruction at every QP tier (both low-QP dequant branches, the
  DC branches at qp>=36).
- Known spec codewords match the transcribed tables (external
  fidelity spot checks — round-tripping alone can't catch a
  mis-transcribed table because encoder and decoder share it).
- mp4/mkv containers decode intra streams to identical pixels; dummy
  and hevc fixtures still quarantine; truncation/bit-flip fuzz raises
  MediaFormatError, never a bare exception.
"""

from __future__ import annotations

import numpy as np
import pytest

from reindexer_spark import h264 as H
from reindexer_spark.codecs import (
    MediaFormatError,
    _unescape_rbsp,
    decode_mkv,
    decode_mp4,
    encode_mkv_coded,
    encode_mp4_coded,
    probe_media,
)


def _rand_frames(rng, w, h, n):
    return [
        rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# entropy layer
# ---------------------------------------------------------------------------


def test_cavlc_residual_roundtrip_fuzz():
    rng = np.random.default_rng(7)
    for _ in range(3000):
        max_coeff = int(rng.choice([4, 15, 16]))
        nc = -1 if max_coeff == 4 else int(rng.choice([0, 1, 3, 4, 8, 20]))
        density = rng.random()
        hi = int(rng.choice([2, 9, 300, 30000]))
        coeffs = [
            int(v) if rng.random() < density else 0
            for v in rng.integers(-hi, hi + 1, max_coeff)
        ]
        w = H._BitWriter()
        total = H.encode_residual(w, list(coeffs), nc)
        r = H._BitReader(_unescape_rbsp(w.finish()))
        got, total2 = H.decode_residual(r, nc, max_coeff)
        assert got == coeffs and total == total2


def test_cavlc_known_codewords():
    """Spot checks against published Table 9-5 / 9-7 / 9-10 entries —
    the one check shared tables cannot fake."""
    # Table 9-5, 0<=nC<2: the famous short codes
    assert H._CT_NC0[(0, 0)] == "1"
    assert H._CT_NC0[(1, 1)] == "01"
    assert H._CT_NC0[(2, 2)] == "001"
    assert H._CT_NC0[(3, 3)] == "00011"
    assert H._CT_NC0[(0, 1)] == "000101"
    # chroma DC table: (1,1) is the single-bit code
    assert H._CT_CHROMA_DC[(1, 1)] == "1"
    assert H._CT_CHROMA_DC[(0, 0)] == "01"
    # total_zeros (Table 9-7), TotalCoeff=1: tz=0 -> "1"
    assert H._TZ4[1][0] == "1"
    assert H._TZ4[1][1] == "011"
    # run_before (Table 9-10)
    assert H._RUN_BEFORE[1] == ("1", "0")
    assert H._RUN_BEFORE[3][3] == "00"
    # every table is prefix-free (a transposed digit breaks decode)
    for table in (H._CT_NC0, H._CT_NC2, H._CT_NC4, H._CT_CHROMA_DC):
        codes = list(table.values())
        for a in codes:
            for b in codes:
                assert a == b or not b.startswith(a)


# ---------------------------------------------------------------------------
# frame codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("qp", [8, 20, 23, 24, 35, 36, 44, 51])
def test_decoder_bit_exact_vs_closed_loop_recon(qp):
    """The normative claim: decode(encode(x)) equals the encoder's own
    §8.5-path reconstruction EXACTLY, at QPs covering both rounding
    branches of dequant_ac (qp<24) and dequant_luma_dc (qp<36)."""
    rng = np.random.default_rng(qp)
    w, h = 32, 16
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [img], qp=qp)
    y, u, v = H.rgb_to_yuv420(img, w, h)
    y, u, v = H._pad_plane(y, 16), H._pad_plane(u, 8), H._pad_plane(v, 8)
    st = H._FrameState(w // 16, h // 16)
    bw = H._BitWriter()
    H._write_slice_header(bw, qp, H.DEFAULT_QP, 0, 4, 0, 4)
    for mby in range(h // 16):
        for mbx in range(w // 16):
            H._encode_mb(bw, st, mbx, mby, qp, y, u, v)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    dy, du, dv = H.decode_frame_nal(nals[0], sd, pd)
    # the output is the §8.7-filtered picture; prediction state (st)
    # is unfiltered — apply the same shared post-pass for the compare
    fy, fu, fv = H.deblock_frame(st.y, st.u, st.v, qp)
    assert np.array_equal(dy, fy)
    assert np.array_equal(du, fu)
    assert np.array_equal(dv, fv)


@pytest.mark.parametrize("dims", [(16, 16), (32, 16), (36, 20), (18, 10)])
def test_roundtrip_quality_and_crop(dims):
    """Non-multiple-of-16 dims exercise SPS cropping; smooth content
    must reconstruct above 28 dB at the default QP."""
    w, h = dims
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    base = (128 + 60 * np.sin(xx / 7) + 50 * np.cos(yy / 5)).astype(np.int32)
    img = np.stack([np.clip(base + d, 0, 255) for d in (0, 30, -25)], -1)
    rgb = img.astype(np.uint8).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [rgb])
    dw, dh, out = H.decode_h264_intra(sps, pps, nals)
    assert (dw, dh) == (w, h)
    a = np.frombuffer(rgb, dtype=np.uint8).astype(np.float64)
    b = np.frombuffer(out[0], dtype=np.uint8).astype(np.float64)
    psnr = 10 * np.log10(255**2 / max(((a - b) ** 2).mean(), 1e-9))
    assert psnr > 28, psnr


def test_flat_frame_reconstructs_dc_exactly():
    """A flat gray frame is pure DC — it must survive the whole
    transform/quant chain with at most rounding-level error."""
    w, h = 32, 32
    rgb = bytes([128]) * (w * h * 3)
    sps, pps, nals = H.encode_h264_intra(w, h, [rgb])
    _, _, out = H.decode_h264_intra(sps, pps, nals)
    diff = np.abs(
        np.frombuffer(out[0], np.uint8).astype(int)
        - np.frombuffer(rgb, np.uint8).astype(int)
    )
    assert diff.max() <= 2, diff.max()


# ---------------------------------------------------------------------------
# containers + quarantine
# ---------------------------------------------------------------------------


def test_intra_mp4_and_mkv_decode_identically():
    rng = np.random.default_rng(3)
    w, h = 48, 32
    frames = _rand_frames(rng, w, h, 4)
    mp4 = encode_mp4_coded(w, h, intra_frames=frames)
    mkv = encode_mkv_coded(w, h, intra_frames=frames)
    pw, ph = probe_media(mp4)["width"], probe_media(mp4)["height"]
    assert (pw, ph) == (w, h)
    w1, h1, _d1, f1, s1 = decode_mp4(mp4)
    w2, h2, _d2, f2, s2 = decode_mkv(mkv)
    assert (w1, h1) == (w2, h2) == (w, h)
    assert f1 == f2  # same bitstream -> container-independent pixels
    assert all(s1) and all(s2)  # all-IDR => every sample is sync


def test_probe_matches_decode_on_intra_fixtures():
    rng = np.random.default_rng(4)
    w, h = 36, 20
    mp4 = encode_mp4_coded(w, h, intra_frames=_rand_frames(rng, w, h, 2))
    p = probe_media(mp4)
    dw, dh, _dur, frames, _s = decode_mp4(mp4)
    assert (p["width"], p["height"], p["n_frames"]) == (dw, dh, len(frames))
    assert p["codec"] == "h264" and p["profile"] == 66


def test_dummy_and_hevc_fixtures_still_quarantine():
    for payload, dec in (
        (encode_mp4_coded(48, 32), decode_mp4),
        (encode_mkv_coded(48, 32), decode_mkv),
        (encode_mp4_coded(48, 32, codec="hevc"), decode_mp4),
        (encode_mkv_coded(48, 32, codec="hevc"), decode_mkv),
    ):
        with pytest.raises(MediaFormatError):
            dec(payload)


def test_out_of_subset_streams_quarantine():
    sps, pps, nals = H.encode_h264_intra(16, 16, [bytes(16 * 16 * 3)])
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    # non-IDR NAL wrapping IDR-written slice bits: the header desyncs
    # (no idr_pic_id on a non-IDR parse) and must quarantine, never
    # decode garbage
    with pytest.raises(MediaFormatError):
        H.decode_frame_nal(b"\x41" + nals[0][1:], sd, pd)
    # CABAC PPS
    cabac_pps = bytearray(H.write_pps())
    # entropy_coding_mode is the 3rd bit of the RBSP; flip via re-write
    w = H._RbspWriter()
    w.ue(0)
    w.ue(0)
    w.u(1, 1)  # CABAC
    with pytest.raises(MediaFormatError):
        H.parse_pps(b"\x68" + w.finish())
    # control-flag-absent PPS: filter defaults ON with zero offsets
    # (round 9: §8.7 is implemented, so this parses instead of
    # quarantining) — but then the slice BITS must not carry the idc
    w = H._RbspWriter()
    for v in (0, 0):
        w.ue(v)
    w.u(0, 1)
    w.u(0, 1)
    w.ue(0)
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 2)
    w.se(0)
    w.se(0)
    w.se(0)
    w.u(0, 1)  # deblocking_filter_control_present_flag = 0
    w.u(0, 1)
    w.u(0, 1)
    deblock_pps = H.parse_pps(b"\x68" + w.finish())
    assert not deblock_pps["deblocking_control_present"]
    r = H._BitReader(_unescape_rbsp(nals[0][1:]))
    stype, qp, on, a_off, b_off, _i = H._parse_slice_header(r, sd, deblock_pps)
    assert stype == "I" and on and (a_off, b_off) == (0, 0)


def _cabac_pps() -> bytes:
    """write_pps() with entropy_coding_mode_flag set: same fields, same
    length, so it can stand in for the CAVLC PPS inside a container."""
    w = H._RbspWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(1, 1)  # entropy_coding_mode: CABAC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred
    w.u(0, 1)  # redundant_pic_cnt_present
    return b"\x68" + w.finish()


def test_cabac_is_probe_only_on_every_decode_path():
    """CABAC streams are probe-only: every decode path quarantines,
    while the probe still reads the dims from the SPS.  The same
    stream with its CAVLC PPS decodes."""
    rng = np.random.default_rng(5)
    w, h = 32, 16
    frames = _rand_frames(rng, w, h, 3)
    sps, pps, nals = H.encode_h264_ippp(w, h, frames)
    cabac = _cabac_pps()
    assert len(cabac) == len(pps) and cabac != pps
    with pytest.raises(MediaFormatError, match="CABAC"):
        H.parse_pps(cabac)

    def swap(payload: bytes) -> bytes:
        assert payload.count(pps) == 1
        return payload.replace(pps, cabac)

    for build, decode in (
        (encode_mp4_coded, decode_mp4),
        (encode_mkv_coded, decode_mkv),
    ):
        media = build(w, h, intra_frames=frames, gop="ippp")
        dw, dh, _durs, out, sync = decode(media)
        assert (dw, dh, len(out)) == (w, h, 3)
        assert sync[0] and not any(sync[1:])
        media = swap(media)
        with pytest.raises(MediaFormatError):
            decode(media)
        p = probe_media(media)
        assert (p["codec"], p["width"], p["height"]) == ("h264", w, h)
    avcc, samples = H.encode_avcc_samples(w, h, frames, gop="ippp")
    with pytest.raises(MediaFormatError):
        H.decode_avcc_samples(swap(avcc), samples)
    es = swap(H.encode_h264_annexb(w, h, frames, gop="ippp"))
    with pytest.raises(MediaFormatError):
        H.decode_h264_annexb_stream(es)
    p = probe_media(es)
    assert (p["codec"], p["width"], p["height"]) == ("h264", w, h)
    with pytest.raises(MediaFormatError):
        H.decode_h264_stream(sps, cabac, nals)


def test_fuzz_quarantine_contract():
    """Truncations and bit flips over a real intra mp4 must raise
    MediaFormatError (or decode — a flip may land in pixel data),
    never a bare exception."""
    rng = np.random.default_rng(9)
    mp4 = encode_mp4_coded(32, 16, intra_frames=_rand_frames(rng, 32, 16, 1))
    for cut in range(0, len(mp4), 7):
        try:
            decode_mp4(mp4[:cut])
        except MediaFormatError:
            pass
    for seed in range(60):
        r2 = np.random.default_rng(seed)
        noisy = bytearray(mp4)
        for i in r2.integers(0, len(noisy), 3):
            noisy[i] = int(r2.integers(0, 256))
        try:
            decode_mp4(bytes(noisy))
        except MediaFormatError:
            pass


def test_sampler_sees_intra_video():
    """The timestamped frame sampler works on real coded video now —
    keyframe snapping is trivial (all-IDR) but the stts walk is real."""
    from reindexer_spark.codecs import Mp4FrameSampler

    rng = np.random.default_rng(6)
    w, h = 32, 16
    mp4 = encode_mp4_coded(w, h, intra_frames=_rand_frames(rng, w, h, 4))
    s = Mp4FrameSampler()
    assert s.duration_ms(mp4) == 1000  # 4 frames @ 4 fps
    frame = s.frame_at(mp4, 500)
    from reindexer_spark.codecs import decode_bmp

    fw, fh, _rgb = decode_bmp(frame)
    assert (fw, fh) == (w, h)


def test_chroma_qp_mapping_known_values():
    """Table 8-15 spot values — _QPC is a shared encoder/decoder
    constant, so round trips can't catch a transcription error."""
    assert H._QPC[29] == 29
    assert H._QPC[30] == 29
    assert H._QPC[33] == 32
    assert H._QPC[39] == 35
    assert H._QPC[43] == 37
    assert H._QPC[51] == 39
    assert len(H._QPC) == 52
    # monotone non-decreasing, compression only above 29
    assert all(a <= b for a, b in zip(H._QPC, H._QPC[1:]))


# ---------------------------------------------------------------------------
# round-9 self-review regression pins
# ---------------------------------------------------------------------------


def test_chroma_qp_index_offset_is_applied():
    """A PPS chroma_qp_index_offset must change the chroma dequant
    scale (review finding: the field was parsed but ignored, silently
    producing wrong chroma for legal streams)."""
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8).tobytes()
    sps, _pps, nals = H.encode_h264_intra(16, 16, [img], qp=30)
    sd = H._parse_sps_slice_fields(sps)
    base = H.parse_pps(H.write_pps())
    off = H.parse_pps(H.write_pps(chroma_qp_offset=-6))
    assert off["chroma_qp_index_offset"] == -6
    y0, u0, v0 = H.decode_frame_nal(nals[0], sd, base)
    y1, u1, v1 = H.decode_frame_nal(nals[0], sd, off)
    assert np.array_equal(y0, y1)  # luma path untouched by the offset
    assert not (np.array_equal(u0, u1) and np.array_equal(v0, v1))


def test_high_profile_non_420_or_deep_bit_depth_quarantines():
    w = H._RbspWriter()
    w.u(100, 8)  # High profile
    w.u(0, 8)
    w.u(41, 8)
    w.ue(0)  # sps_id
    w.ue(2)  # chroma_format_idc: 4:2:2 — outside the subset
    with pytest.raises(MediaFormatError):
        H._parse_sps_slice_fields(b"\x67" + w.finish())


def test_hostile_sps_dimensions_quarantine_not_oom():
    """A crafted SPS claiming a multi-gigapixel frame must raise
    MediaFormatError before any plane allocation."""
    nal = H.write_h264_sps(60000, 60000, 66, 51)
    with pytest.raises(MediaFormatError):
        H._parse_sps_slice_fields(nal)


def test_pps_pic_order_and_redundant_flags_quarantine():
    def pps_with(flag_bit_index):
        w = H._RbspWriter()
        w.ue(0)
        w.ue(0)
        w.u(0, 1)  # CAVLC
        w.u(1 if flag_bit_index == 0 else 0, 1)  # bottom_field_pic_order
        w.ue(0)
        w.ue(0)
        w.ue(0)
        w.u(0, 1)
        w.u(0, 2)
        w.se(0)
        w.se(0)
        w.se(0)
        w.u(1, 1)
        w.u(0, 1)
        w.u(1 if flag_bit_index == 1 else 0, 1)  # redundant_pic_cnt
        return b"\x68" + w.finish()

    for idx in (0, 1):
        with pytest.raises(MediaFormatError):
            H.parse_pps(pps_with(idx))


def test_inband_sps_dimension_change_rejected():
    rng = np.random.default_rng(8)
    frames = _rand_frames(rng, 16, 16, 1)
    avcc, samples = H.encode_avcc_samples(16, 16, frames)
    other_sps = H.write_h264_sps(32, 16, 66, 30)
    poisoned = [
        len(other_sps).to_bytes(4, "big") + other_sps + samples[0]
    ]
    with pytest.raises(MediaFormatError):
        H.decode_avcc_samples(avcc, poisoned)


def test_ledger_gc_retain_zero_keeps_nothing():
    import os
    import tempfile

    from reindexer_spark.docpipe.solr_sink import SolrBatchLedger

    with tempfile.TemporaryDirectory() as d:
        ledger = SolrBatchLedger(d, retain=0)
        for bid in range(5):
            ledger.commit(bid)
        assert os.listdir(d) == []


# ---------------------------------------------------------------------------
# Annex-B elementary streams
# ---------------------------------------------------------------------------


def test_annexb_roundtrip_probe_and_codec_path():
    """Raw .h264 dumps (no container): sniff → headers-only probe →
    full decode, and the shared PurePythonCodec feature path."""
    from reindexer_spark.codecs import PurePythonCodec, _sniff

    rng = np.random.default_rng(1)
    w, h = 36, 20
    frames = _rand_frames(rng, w, h, 3)
    es = H.encode_h264_annexb(w, h, frames, qp=28)
    assert _sniff(es) == "h264"
    p = probe_media(es)
    assert (p["width"], p["height"], p["n_frames"]) == (w, h, 3)
    assert (p["codec"], p["profile"]) == ("h264", 66)
    dw, dh, out = H.decode_h264_annexb_stream(es)
    assert (dw, dh, len(out)) == (w, h, 3)
    d = PurePythonCodec().decode(es)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, 3)
    assert d["features"][7] == 3.0  # frame count rides the last slot


def test_annexb_three_byte_start_codes_and_aud():
    """3-byte start codes and AUD/SEI NALs are legal stream furniture."""
    rng = np.random.default_rng(2)
    w, h = 16, 16
    sps, pps, nals = H.encode_h264_intra(w, h, _rand_frames(rng, w, h, 1))
    sc3 = b"\x00\x00\x01"
    es = (
        b"\x00\x00\x00\x01" + b"\x09\x10"  # AUD
        + sc3 + sps + sc3 + pps + sc3 + nals[0]
    )
    dw, dh, out = H.decode_h264_annexb_stream(es)
    assert (dw, dh, len(out)) == (w, h, 1)


def test_annexb_quarantine_contract():
    rng = np.random.default_rng(3)
    es = H.encode_h264_annexb(16, 16, _rand_frames(rng, 16, 16, 1))
    # inter slice NAL
    bad = es[:4] + bytes([0x41]) + es[5:]
    with pytest.raises(MediaFormatError):
        H.decode_h264_annexb_stream(bad)
    # truncations through the public probe/decode
    for cut in range(0, len(es), 5):
        for fn in (H.decode_h264_annexb_stream,):
            try:
                fn(es[:cut])
            except MediaFormatError:
                pass
    # slice before parameter sets
    with pytest.raises(MediaFormatError):
        H.decode_h264_annexb_stream(b"\x00\x00\x00\x01" + es[-20:])


# ---------------------------------------------------------------------------
# §8.7 deblocking
# ---------------------------------------------------------------------------


def test_deblock_tables_known_values():
    """Table 8-16/8-17 spot values — shared constants, so round trips
    can't catch transcription errors."""
    assert H._DB_ALPHA[16] == 4 and H._DB_ALPHA[36] == 50
    assert H._DB_ALPHA[50] == 255 and H._DB_ALPHA[51] == 255
    assert H._DB_BETA[16] == 2 and H._DB_BETA[51] == 18
    assert all(H._DB_ALPHA[i] == 0 for i in range(16))
    assert H._DB_TC0[0][23] == 1 and H._DB_TC0[0][51] == 13
    assert H._DB_TC0[1][51] == 17 and H._DB_TC0[2][51] == 25
    assert H._DB_TC0[2][17] == 1
    # monotone non-decreasing thresholds
    for t in (H._DB_ALPHA, H._DB_BETA, *H._DB_TC0):
        assert all(a <= b for a, b in zip(t, t[1:]))


def test_deblock_smooths_blocking_and_respects_low_qp_gate():
    rng = np.random.default_rng(5)
    w, h = 32, 32
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    on = H.encode_h264_intra(w, h, [img], qp=38, deblock=True)
    off = H.encode_h264_intra(w, h, [img], qp=38, deblock=False)
    _, _, f_on = H.decode_h264_intra(on[0], on[1], on[2])
    _, _, f_off = H.decode_h264_intra(off[0], off[1], off[2])
    assert f_on[0] != f_off[0]  # the filter visibly acts at high QP
    # below indexA 16 the alpha threshold is 0: the filter is a no-op
    on_lo = H.encode_h264_intra(w, h, [img], qp=12, deblock=True)
    off_lo = H.encode_h264_intra(w, h, [img], qp=12, deblock=False)
    _, _, g_on = H.decode_h264_intra(on_lo[0], on_lo[1], on_lo[2])
    _, _, g_off = H.decode_h264_intra(off_lo[0], off_lo[1], off_lo[2])
    assert g_on[0] == g_off[0]


def test_deblock_offsets_shift_the_thresholds():
    """A 10-level step across the MB boundary: below alpha only with
    the +12 offsets (alpha(20)=7 < 10 <= alpha(32)=32), so the offsets
    visibly enable filtering.  Inputs must never be mutated (the
    prediction state stays unfiltered)."""
    y = np.full((32, 32), 100, dtype=np.uint8)
    y[:, 16:] = 110  # step exactly on the MB edge
    u = np.full((16, 16), 100, dtype=np.uint8)
    v = np.full((16, 16), 110, dtype=np.uint8)
    y0 = y.copy()
    base = H.deblock_frame(y, u, v, 20)
    wide = H.deblock_frame(y, u, v, 20, alpha_off=12, beta_off=12)
    assert np.array_equal(base[0], y0)  # step survives narrow alpha
    assert not np.array_equal(wide[0], y0)  # wide alpha smooths it
    assert np.array_equal(y, y0)  # input untouched


def test_deblocked_roundtrip_still_beats_quality_bar():
    """Filtered output should not be WORSE than unfiltered on smooth
    content — and the lane's recon_exact gate depends on decode and
    encoder recon sharing the filter, covered by the bit-exact test."""
    w, h = 36, 20
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    base = (128 + 60 * np.sin(xx / 7) + 50 * np.cos(yy / 5)).astype(np.int32)
    img = np.stack([np.clip(base + d, 0, 255) for d in (0, 30, -25)], -1)
    rgb = img.astype(np.uint8).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [rgb], qp=30)
    _, _, out = H.decode_h264_intra(sps, pps, nals)
    a = np.frombuffer(rgb, dtype=np.uint8).astype(np.float64)
    b = np.frombuffer(out[0], dtype=np.uint8).astype(np.float64)
    psnr = 10 * np.log10(255**2 / max(((a - b) ** 2).mean(), 1e-9))
    assert psnr > 28, psnr


# ---------------------------------------------------------------------------
# Intra_16x16 prediction modes (V / H / DC / Plane)
# ---------------------------------------------------------------------------


def test_pred_mode_builders_match_hand_math():
    recon = np.zeros((32, 32), dtype=np.uint8)
    recon[15, 16:32] = np.arange(16, dtype=np.uint8)  # top row of MB(1,1)
    recon[16:32, 15] = 7  # left col of MB(1,1)
    v = H._pred_luma16(H.L16_VERTICAL, recon, 1, 1)
    assert np.array_equal(v, np.tile(np.arange(16), (16, 1)))
    hz = H._pred_luma16(H.L16_HORIZONTAL, recon, 1, 1)
    assert np.array_equal(hz, np.full((16, 16), 7))
    # plane prediction over a perfect ramp reproduces the ramp
    ramp = np.zeros((48, 48), dtype=np.uint8)
    xx, yy = np.meshgrid(np.arange(48), np.arange(48))
    ramp[:, :] = np.clip(10 + 2 * xx + 3 * yy, 0, 255)
    p = H._pred_luma16(H.L16_PLANE, ramp, 1, 1)
    expect = ramp[16:32, 16:32].astype(np.int64)
    assert np.abs(p - expect).max() <= 1  # integer-rounded plane fit
    # chroma plane over an 8x8 ramp
    cp = H._pred_chroma8(H.C_PLANE, ramp, 1, 1)
    assert np.abs(cp - ramp[8:16, 8:16].astype(np.int64)).max() <= 2
    # mode legality: V without a top neighbour quarantines
    with pytest.raises(MediaFormatError):
        H._pred_luma16(H.L16_VERTICAL, recon, 1, 0)
    with pytest.raises(MediaFormatError):
        H._pred_chroma8(H.C_PLANE, recon, 0, 1)


def test_mode_decision_improves_on_directional_content():
    """Gradients should compress far better than DC-only could: the
    plane/directional predictors leave near-zero residual, so the
    slice shrinks dramatically and quality rises."""
    w, h = 64, 48
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    ramp = np.clip(40 + 2 * xx + yy, 0, 255).astype(np.uint8)
    img = np.stack([ramp] * 3, -1).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [img], qp=30)
    _, _, out = H.decode_h264_intra(sps, pps, nals)
    a = np.frombuffer(img, np.uint8).astype(np.float64)
    b = np.frombuffer(out[0], np.uint8).astype(np.float64)
    psnr = 10 * np.log10(255**2 / max(((a - b) ** 2).mean(), 1e-9))
    assert psnr > 40, psnr  # DC-only plateaus in the low 30s here
    assert len(nals[0]) < 200  # near-empty residuals


@pytest.mark.parametrize("content", ["vstripes", "hbands", "ramp", "noise"])
def test_all_modes_decode_bit_exact(content):
    """Content shaped to favour each predictor; whatever modes the
    encoder picks, decode must equal the closed-loop reconstruction."""
    rng = np.random.default_rng(41)
    w, h = 48, 32
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    if content == "vstripes":
        base = ((xx // 3) * 37) % 256
    elif content == "hbands":
        base = ((yy // 3) * 53) % 256
    elif content == "ramp":
        base = np.clip(10 + 3 * xx + 2 * yy, 0, 255)
    else:
        base = rng.integers(0, 256, (h, w))
    img = np.stack([base.astype(np.uint8)] * 3, -1).tobytes()
    for qp in (20, 34):
        sps, pps, nals, recon = H.encode_h264_intra(
            w, h, [img], qp=qp, return_recon=True
        )
        _, _, out = H.decode_h264_intra(sps, pps, nals)
        assert out == recon


# ---------------------------------------------------------------------------
# I_PCM
# ---------------------------------------------------------------------------


def test_pcm_fallback_roundtrips_losslessly_at_qp0():
    """At QP 0 on noise the coded MB outgrows 384 raw bytes, so the
    encoder's I_PCM escape fires; PCM macroblocks must reconstruct the
    source EXACTLY (and decode == closed-loop recon still holds)."""
    rng = np.random.default_rng(12)
    w, h = 32, 16
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    sps, pps, nals, recon = H.encode_h264_intra(
        w, h, [img], qp=0, return_recon=True, deblock=False
    )
    # the escape fired: the slice is near the raw size, and decoding
    # reproduces the encoder recon bit-exactly through the PCM path
    assert len(nals[0]) >= 2 * 384  # two MBs of raw payload
    _, _, out = H.decode_h264_intra(sps, pps, nals)
    assert out == recon
    # PCM is lossless in YUV: recon equals the YUV-roundtripped source
    y, u, v = H.rgb_to_yuv420(img, w, h)
    expect = H.yuv420_to_rgb(y, u, v)
    assert out[0] == expect


def test_pcm_alignment_bits_must_be_zero():
    rng = np.random.default_rng(13)
    w, h = 16, 16
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [img], qp=0, deblock=False)
    sd = H._parse_sps_slice_fields(sps)
    pd = H.parse_pps(pps)
    # flip a bit somewhere in the alignment/PCM region; the decoder
    # must quarantine or produce a frame, never crash
    for i in range(8, min(len(nals[0]), 64)):
        noisy = bytearray(nals[0])
        noisy[i] ^= 0x40
        try:
            H.decode_frame_nal(bytes(noisy), sd, pd)
        except MediaFormatError:
            pass


def test_high_qp_mbs_stay_coded_not_pcm():
    rng = np.random.default_rng(14)
    w, h = 32, 16
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [img], qp=30)
    assert len(nals[0]) < 2 * 384  # nothing escaped to PCM


# ---------------------------------------------------------------------------
# Intra_4x4
# ---------------------------------------------------------------------------


def test_i4_predictor_spot_math():
    left = np.array([10, 20, 30, 40], dtype=np.int64)
    top = np.array([1, 2, 3, 4, 5, 6, 7, 8], dtype=np.int64)
    v = H._pred_i4(H.I4_V, left, top, 0, True, True)
    assert np.array_equal(v, np.tile(top[:4], (4, 1)))
    hz = H._pred_i4(H.I4_H, left, top, 0, True, True)
    assert np.array_equal(hz, np.tile(left[:, None], (1, 4)))
    dc = H._pred_i4(H.I4_DC, left, top, 0, True, True)
    assert dc[0, 0] == (int(top[:4].sum()) + int(left.sum()) + 4) >> 3
    ddl = H._pred_i4(H.I4_DDL, left, top, 0, False, True)
    # §8.3.1.2.4: pred[0][0] = (t0 + 2 t1 + t2 + 2) >> 2
    assert ddl[0, 0] == (1 + 2 * 2 + 3 + 2) >> 2
    assert ddl[3, 3] == (top[6] + 3 * top[7] + 2) >> 2
    # unavailable neighbours quarantine
    with pytest.raises(MediaFormatError):
        H._pred_i4(H.I4_DDR, left, top, 0, False, True)


def test_cbp_intra4_table_spot_values():
    """Table 9-4 (Intra_4x4 column) famous entries; full inverse
    consistency; every cbp value 0..47 reachable exactly once."""
    assert H._CBP_INTRA4[0] == 47
    assert H._CBP_INTRA4[1] == 31
    assert H._CBP_INTRA4[2] == 15
    assert H._CBP_INTRA4[3] == 0
    assert sorted(H._CBP_INTRA4) == list(range(48))
    for code, cbp in enumerate(H._CBP_INTRA4):
        assert H._CBP_INTRA4_ENC[cbp] == code


def test_i4_macroblocks_engage_and_decode_bit_exact():
    """Diagonally-structured content must flip MBs to I_4x4 (the
    detail predictors beat any 16x16 mode), and mixed I4/I16 frames
    must still decode byte-equal to the closed-loop recon."""
    rng = np.random.default_rng(21)
    w, h = 48, 32
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    base = (((xx + yy) // 2) * 29 % 256).astype(np.uint8)
    img = np.stack([base] * 3, -1).tobytes()
    n_i4 = 0
    for qp in (16, 28, 40):
        sps, pps, nals, recon = H.encode_h264_intra(
            w, h, [img], qp=qp, return_recon=True
        )
        _, _, out = H.decode_h264_intra(sps, pps, nals)
        assert out == recon
        sd = H._parse_sps_slice_fields(sps)
        pd = H.parse_pps(pps)
        r = H._BitReader(_unescape_rbsp(nals[0][1:]))
        H._parse_slice_header(r, sd, pd)
        st = H._FrameState(sd["mb_w"], sd["mb_h"])
        for mby in range(sd["mb_h"]):
            for mbx in range(sd["mb_w"]):
                pos = r.pos
                if r.ue() == 0:
                    n_i4 += 1
                r.pos = pos
                H._decode_mb(r, st, mbx, mby, qp, 0)
    assert n_i4 > 0


def test_i4_holds_quality_on_detail():
    """Fine diagonal detail (an I_4x4-heavy frame per the engagement
    test) must still clear the lossy-codec quality bar at mid QP."""
    w, h = 32, 32
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    base = (((xx + 2 * yy) // 3) * 43 % 256).astype(np.uint8)
    img = np.stack([base] * 3, -1).tobytes()
    sps, pps, nals = H.encode_h264_intra(w, h, [img], qp=30)
    _, _, out = H.decode_h264_intra(sps, pps, nals)
    a = np.frombuffer(img, np.uint8).astype(np.float64)
    b = np.frombuffer(out[0], np.uint8).astype(np.float64)
    psnr = 10 * np.log10(255**2 / max(((a - b) ** 2).mean(), 1e-9))
    assert psnr > 28, psnr
