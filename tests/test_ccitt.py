"""CCITT Group 4 (ITU-T T.6 over the T.4 run tables) — round 16.

The closed loop (shared tables) cannot catch a mis-transcribed table,
so this file carries the EXTERNAL pins (the h264 CAVLC precedent):
- the widely published codewords: V0=1, VL1=010, VR1=011, H=001,
  P=0001, white 0..7 / black 0..7 terminating codes, the 64/1728
  make-ups, EOL;
- structural completeness: both color trees prefix-free, and their
  Kraft sums IDENTICAL (both reserve the same extension space);
plus the behavior surface: encoder↔decoder roundtrips (noise,
structured, edge shapes, both FillOrders, EOFB), mode coverage
(a stream containing every mode family), compression on fax-like
content, stall/overrun quarantines, the TIFF strip seam, and the
repo-wide fuzz contract."""

import numpy as np
import pytest

from reindexer_spark.ccitt import (
    BLACK_CODES,
    EOL,
    EXT_MAKEUP,
    MODE_H,
    MODE_P,
    MODE_V0,
    MODE_VL,
    MODE_VR,
    WHITE_CODES,
    g4_decode,
    g4_encode,
)
from reindexer_spark.codecs import MediaFormatError
from reindexer_spark.tiff import (
    TAG_STRIP_COUNTS,
    TAG_STRIP_OFFSETS,
    decode_tiff,
    encode_tiff_g4,
    patch_entry,
    probe_tiff,
    read_ifd,
)


def test_published_codewords_pin():
    # T.6 mode codes
    assert MODE_V0 == "1"
    assert MODE_H == "001"
    assert MODE_P == "0001"
    assert MODE_VR == {1: "011", 2: "000011", 3: "0000011"}
    assert MODE_VL == {1: "010", 2: "000010", 3: "0000010"}
    assert EOL == "000000000001"
    # T.4 white terminating codes 0..7 (every fax textbook's table)
    assert [WHITE_CODES[i] for i in range(8)] == [
        "00110101", "000111", "0111", "1000", "1011", "1100",
        "1110", "1111",
    ]
    # T.4 black terminating codes 0..7
    assert [BLACK_CODES[i] for i in range(8)] == [
        "0000110111", "010", "11", "10", "011", "0011", "0010",
        "00011",
    ]
    # the 64 and 1728 make-ups, both colors
    assert WHITE_CODES[64] == "11011"
    assert WHITE_CODES[1728] == "010011011"
    assert BLACK_CODES[64] == "0000001111"
    assert BLACK_CODES[1728] == "0000001100101"
    assert EXT_MAKEUP[1792] == "00000001000"
    assert EXT_MAKEUP[2560] == "000000011111"


def test_tables_prefix_free_and_kraft_identical():
    def tree(codes):
        full = dict(codes)
        full.update({-k: v for k, v in EXT_MAKEUP.items()})
        full[-9999] = EOL
        vals = sorted(full.values())
        for i, a in enumerate(vals):
            for b in vals[i + 1 :]:
                assert not b.startswith(a), (a, b)
        return sum(2.0 ** -len(c) for c in vals)

    kw = tree(WHITE_CODES)
    kb = tree(BLACK_CODES)
    assert kw == kb  # both trees reserve the same extension space
    assert 0.99 < kw <= 1.0


def test_roundtrip_property_sweep():
    rng = np.random.default_rng(11)
    for trial in range(40):
        w = int(rng.integers(1, 90))
        h = int(rng.integers(1, 30))
        style = trial % 3
        if style == 0:  # noise (H-mode heavy)
            bits = rng.integers(0, 2, (h, w)).astype(np.uint8)
        elif style == 1:  # rectangles (V/P heavy)
            bits = np.zeros((h, w), dtype=np.uint8)
            for _ in range(int(rng.integers(1, 4))):
                x1 = int(rng.integers(0, w))
                y1 = int(rng.integers(0, h))
                bits[y1 : y1 + int(rng.integers(1, h + 1)),
                     x1 : x1 + int(rng.integers(1, w + 1))] = 1
        else:  # long horizontal runs incl. make-up territory
            bits = np.zeros((h, w), dtype=np.uint8)
            bits[:, : int(rng.integers(0, w + 1))] = 1
        flat = bytearray(bits.reshape(-1).tolist())
        for fo in (1, 2):
            enc = g4_encode(flat, w, h, fillorder=fo,
                            with_eofb=(trial % 2 == 0))
            assert g4_decode(enc, w, h, fillorder=fo) == flat


def test_makeup_chain_long_runs():
    # a run of 2800 white pixels needs EXT make-up 2560 + 192 + term
    w = 2801
    flat = bytearray(w)
    flat[-1] = 1
    enc = g4_encode(flat, w, 1)
    assert g4_decode(enc, w, 1) == flat


def test_mode_coverage_and_compression():
    # staircase + rectangle exercises V0/VR/VL/H/P in one stream
    w, h = 64, 64
    bits = np.zeros((h, w), dtype=np.uint8)
    bits[10:50, 8:40] = 1
    for r in range(20, 40):
        bits[r, r - 12 : r + 5] = 1
    bits[55, 3:61:7] = 1  # isolated pixels: H modes
    flat = bytearray(bits.reshape(-1).tolist())
    enc = g4_encode(flat, w, h)
    assert g4_decode(enc, w, h) == flat
    assert len(enc) < (w * h) // 8  # beats the packed raw bits


def test_truncation_and_garbage_quarantine():
    flat = bytearray([1, 0] * 50)
    enc = g4_encode(flat, 10, 10)
    for cut in range(len(enc)):
        try:
            g4_decode(enc[:cut], 10, 10)
        except MediaFormatError:
            pass
    rng = np.random.default_rng(4)
    for _ in range(200):
        blob = bytes(rng.integers(0, 256, int(rng.integers(1, 40)),
                                  dtype=np.uint8))
        try:
            g4_decode(blob, 16, 16)
        except MediaFormatError:
            pass


def test_tiff_g4_strip_seam_all_orders():
    bits = np.zeros((30, 41), dtype=np.uint8)
    bits[5:20, 7:30] = 1
    bits[25] = 1
    flat = bytearray(bits.reshape(-1).tolist())
    for le in (True, False):
        for fo in (1, 2):
            for pi in (0, 1):
                p = encode_tiff_g4(
                    41, 30, flat, le=le, rows_per_strip=8,
                    fillorder=fo, photometric=pi,
                )
                w, h, rgb = decode_tiff(p)
                assert (w, h) == (41, 30)
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(30, 41, 3)
                black = (
                    (a[:, :, 0] == 0) if pi == 0 else (a[:, :, 0] == 255)
                )
                assert np.array_equal(black.astype(np.uint8), bits)
    pm = probe_tiff(p)
    assert pm["compression"] == 4 and pm["bits"] == 1


def test_tiff_g4_quarantines():
    flat = bytearray(12 * 10)
    p = encode_tiff_g4(12, 10, flat)

    # T.6 uncompressed mode bit
    from reindexer_spark.tiff import TAG_T6_OPTIONS

    with pytest.raises(MediaFormatError, match="uncompressed"):
        decode_tiff(patch_entry(p, TAG_T6_OPTIONS, [2]))
    # G3 proper (Compression 3) stays quarantined BY NAME; a G4
    # stream patched to Compression 2 hits the MH decoder, which
    # either refuses or decodes garbage — the fuzz contract, never a
    # bare exception
    from reindexer_spark.tiff import TAG_COMPRESSION

    with pytest.raises(MediaFormatError, match="G3"):
        decode_tiff(patch_entry(p, TAG_COMPRESSION, [3]))
    assert probe_tiff(patch_entry(p, TAG_COMPRESSION, [3]))["width"] == 12
    try:
        decode_tiff(patch_entry(p, TAG_COMPRESSION, [2]))
    except MediaFormatError:
        pass


# ---------------------------------------------------------------------------
# Modified Huffman (T.4 1-D) — TIFF Compression 2
# ---------------------------------------------------------------------------


def test_mh_roundtrip_and_byte_aligned_rows():
    from reindexer_spark.ccitt import mh_decode, mh_encode

    rng = np.random.default_rng(21)
    for trial in range(30):
        w = int(rng.integers(1, 80))
        h = int(rng.integers(1, 20))
        bits = rng.integers(0, 2, (h, w)).astype(np.uint8)
        flat = bytearray(bits.reshape(-1).tolist())
        for fo in (1, 2):
            enc = mh_encode(flat, w, h, fillorder=fo)
            assert mh_decode(enc, w, h, fillorder=fo) == flat
    # byte alignment: a 1-pixel-wide all-white column costs exactly
    # one byte per row (white-1 is 6 bits "000111", padded to 8)
    enc = mh_encode(bytearray(5), 1, 5)
    assert len(enc) == 5
    # long runs cross the make-up chain
    flat = bytearray(3000)
    flat[-1] = 1
    assert mh_decode(mh_encode(flat, 3000, 1), 3000, 1) == flat


def test_mh_in_tiff_both_fillorders_and_strips():
    bits = np.zeros((22, 31), np.uint8)
    bits[4:15, 6:25] = 1
    bits[20] = 1
    flat = bytearray(bits.reshape(-1).tolist())
    for fo in (1, 2):
        for le in (True, False):
            p = encode_tiff_g4(
                31, 22, flat, le=le, rows_per_strip=7, fillorder=fo,
                compression=2,
            )
            w, h, rgb = decode_tiff(p)
            a = np.frombuffer(rgb, np.uint8).reshape(22, 31, 3)
            assert np.array_equal(
                (a[:, :, 0] == 0).astype(np.uint8), bits
            )
            assert probe_tiff(p)["compression"] == 2
            # the MH strips undercut the packed 1-bit raster
            counts = read_ifd(p, 8, le)[0][TAG_STRIP_COUNTS]["values"]
            assert sum(counts) < ((31 + 7) // 8) * 22


def test_mh_fuzz_quarantine_contract():
    from reindexer_spark.ccitt import mh_decode, mh_encode

    rng = np.random.default_rng(23)
    base = mh_encode(bytearray([1, 0] * 60), 12, 10)
    for cut in range(len(base)):
        try:
            mh_decode(base[:cut], 12, 10)
        except MediaFormatError:
            pass
    for _ in range(150):
        blob = bytes(
            rng.integers(0, 256, int(rng.integers(1, 40)),
                         dtype=np.uint8)
        )
        try:
            mh_decode(blob, 16, 16)
        except MediaFormatError:
            pass


# ---------------------------------------------------------------------------
# Group 3 proper (T.4, EOL-framed) — TIFF Compression 3
# ---------------------------------------------------------------------------


def test_g3_roundtrip_1d_and_2d():
    from reindexer_spark.ccitt import g3_decode, g3_encode

    rng = np.random.default_rng(41)
    for trial in range(30):
        w = int(rng.integers(1, 80))
        h = int(rng.integers(1, 22))
        style = trial % 3
        if style == 0:
            bits = rng.integers(0, 2, (h, w)).astype(np.uint8)
        elif style == 1:
            bits = np.zeros((h, w), np.uint8)
            bits[: h // 2 + 1, : w // 2 + 1] = 1
        else:
            bits = np.ones((h, w), np.uint8)
        flat = bytearray(bits.reshape(-1).tolist())
        for two_d in (False, True):
            for fo in (1, 2):
                enc = g3_encode(
                    flat, w, h, two_d=two_d,
                    k_factor=int(rng.integers(1, 6)), fillorder=fo,
                )
                assert g3_decode(
                    enc, w, h, two_d=two_d, fillorder=fo
                ) == flat, (trial, two_d, fo)


def test_g3_eol_framing_and_desync_quarantine():
    from reindexer_spark.ccitt import EOL, g3_decode, g3_encode

    flat = bytearray([1, 0] * 30)
    enc = g3_encode(flat, 12, 5)
    # the stream opens with EOL
    bits16 = (enc[0] << 8) | enc[1]
    assert bits16 >> 4 == 1 and EOL == "000000000001"
    # stripping the first EOL desyncs BY NAME
    import math

    shifted = bytes(
        ((enc[i] << 4) & 0xFF) | (enc[i + 1] >> 4 if i + 1 < len(enc)
                                  else 0)
        for i in range(len(enc))
    )
    with pytest.raises(MediaFormatError):
        g3_decode(shifted, 12, 5)
    # truncations and garbage: the repo-wide contract
    rng = np.random.default_rng(42)
    for cut in range(len(enc)):
        try:
            g3_decode(enc[:cut], 12, 5)
        except MediaFormatError:
            pass
    for _ in range(150):
        blob = bytes(rng.integers(0, 256, int(rng.integers(1, 40)),
                                  dtype=np.uint8))
        try:
            g3_decode(blob, 16, 16, two_d=bool(rng.integers(0, 2)))
        except MediaFormatError:
            pass


def test_g3_in_tiff_and_uncompressed_option_quarantines():
    bits = np.zeros((26, 37), np.uint8)
    bits[5:18, 4:30] = 1
    flat = bytearray(bits.reshape(-1).tolist())
    for two_d in (False, True):
        p = encode_tiff_g4(
            37, 26, flat, rows_per_strip=9, compression=3,
            t4_2d=two_d,
        )
        w, h, rgb = decode_tiff(p)
        a = np.frombuffer(rgb, np.uint8).reshape(26, 37, 3)
        assert np.array_equal((a[:, :, 0] == 0).astype(np.uint8), bits)
        assert probe_tiff(p)["compression"] == 3
        # every strip opens with an EOL (000000000001), no fill first
        for s0 in read_ifd(p, 8, True)[0][TAG_STRIP_OFFSETS]["values"]:
            assert (p[s0] << 4 | p[s0 + 1] >> 4) == 1
    # T4Options uncompressed-mode bit quarantines by name
    from reindexer_spark.tiff import TAG_T4_OPTIONS

    with pytest.raises(MediaFormatError, match="uncompressed"):
        decode_tiff(patch_entry(p, TAG_T4_OPTIONS, [2]))
