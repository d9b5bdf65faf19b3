"""WebP probe contract: header-only geometry across the three container
layouts; decode quarantines (probe-only format, same contract as
avc1/hev1 tracks).  No Spark session needed."""

from __future__ import annotations

import struct

import pytest

from reindexer_spark.codecs import (
    MediaFormatError,
    _decode_image,
    _sniff,
    encode_webp_fixture,
    probe_media,
)


@pytest.mark.parametrize(
    "layout,n_frames",
    [("vp8", 1), ("vp8l", 1), ("vp8x-anim", 2), ("vp8x-anim", 4)],
)
def test_probe_recovers_geometry(layout, n_frames):
    p = encode_webp_fixture(13, 9, layout, n_frames=n_frames, seed=b"t")
    assert _sniff(p) == "webp"
    m = probe_media(p)
    assert (m["kind"], m["width"], m["height"], m["n_frames"]) == (
        "webp", 13, 9, n_frames,
    )
    # an image container claims no audio or codec facts
    assert m["sample_rate"] is None and m["n_samples"] is None
    assert m["codec"] is None and m["profile"] is None and m["level"] is None


def test_vp8l_14bit_dims():
    # 14-bit fields: dims beyond one byte must survive the bit packing
    p = encode_webp_fixture(16383, 300, "vp8l")
    m = probe_media(p)
    assert (m["width"], m["height"]) == (16383, 300)


def test_decode_quarantines():
    # VP8-lossy is probe-only: the probe reads the dims, decode
    # quarantines
    p = encode_webp_fixture(8, 8, "vp8", 1, b"x")
    m = probe_media(p)
    assert (m["kind"], m["width"], m["height"]) == ("webp", 8, 8)
    with pytest.raises(MediaFormatError):
        _decode_image("webp", p)


def test_truncated_chunk_quarantines():
    p = encode_webp_fixture(8, 8, "vp8")
    with pytest.raises(MediaFormatError):
        probe_media(p[:18])


def test_missing_keyframe_start_code_quarantines():
    p = bytearray(encode_webp_fixture(8, 8, "vp8"))
    # corrupt the 0x9D012A sync inside the VP8 chunk body
    sync = bytes(p).index(b"\x9d\x01\x2a")
    p[sync] = 0x00
    with pytest.raises(MediaFormatError):
        probe_media(bytes(p))


def test_missing_image_chunk_quarantines():
    # a RIFF/WEBP shell with only an unknown chunk
    body = b"XXXX" + struct.pack("<I", 4) + b"\x00" * 4
    shell = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    with pytest.raises(MediaFormatError):
        probe_media(shell)


def test_riff_word_alignment():
    # odd-sized chunk bodies are padded; the walk must honour the pad.
    # vp8l body: 1 sig + 4 bits + 12 filler = 17 bytes (odd) → padded;
    # append a trailing VP8X so a mis-walk would misparse it.
    inner = encode_webp_fixture(10, 10, "vp8l")
    chunks = inner[12:]
    assert (len(chunks) - 8) % 2 == 1 or chunks[-1:] == b"\x00"
    vp8x = (
        b"VP8X"
        + struct.pack("<I", 10)
        + bytes([0, 0, 0, 0])
        + (29).to_bytes(3, "little")
        + (39).to_bytes(3, "little")
    )
    body = chunks + vp8x
    p = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    m = probe_media(p)
    # first image chunk wins (VP8L), and the walk reached the end
    # without desync
    assert (m["width"], m["height"], m["n_frames"]) == (10, 10, 1)
