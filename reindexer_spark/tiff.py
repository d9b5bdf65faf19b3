"""Baseline TIFF 6.0 and EXIF metadata (both public specs: Adobe
"TIFF Revision 6.0", 1992; JEITA CP-3451 / EXIF 2.3 — EXIF's APP1
payload IS a TIFF block, so one IFD walker serves both).

TIFF scope (decode_tiff): single-image (first IFD), strip OR tiled
layout (§15 — TileWidth/TileLength multiples of 16, edge tiles
padded), 8-bit or 16-bit samples (16-bit scanned/scientific crawls;
decode returns the high byte, predictor 2 differences whole 16-bit
samples in the file's byte order), grayscale (Photometric 1, also
0 = WhiteIsZero), RGB (PI 2) or palette color (PI 3, 8-bit indices
into a 3x256 16-bit ColorMap), chunky or planar (PlanarConfiguration
2, strips only) layout, both byte orders, with Compression 1 (none),
5 (LZW, §13 — MSB-first codes with the EarlyChange width rule,
encoder+decoder below, hand-computed code vector pinned in tests),
8/32946 (Deflate, stdlib zlib) and 32773 (PackBits, §9), plus
horizontal-differencing Predictor 2 (§14); new-style JPEG-in-TIFF
(Compression 7, TIFF Technical Note 2: per-strip/tile baseline JPEG
with optional JPEGTables); and bilevel CCITT — Modified Huffman (2),
Group 3 1-D/2-D (3) and Group 4 (4), either FillOrder.  Everything
outside raises MediaFormatError — the repo's quarantine contract,
never a wrong image: old-style JPEG-in-TIFF (Compression 6),
float/32-bit samples, palettes with 16-bit indices, planar 2 with
tiles, CMYK/YCbCr photometrics, RGB-space JPEG and the T.4/T.6
uncompressed mode.

``TIFF_VARIANTS`` (end of module) is the one table of the shapes the
writers produce; the ``image_tiff_matrix`` lane decodes one of each.

EXIF scope: parse Make/Model/Orientation/DateTime from IFD0,
DateTimeOriginal from the Exif sub-IFD, latitude/longitude from the
GPS sub-IFD — and SCRUB the GPS IFD in place (``scrub_exif_gps``):
the IFD's entry count is set to 0 and every entry plus its
out-of-line value bytes are zeroed, all within the APP1 segment, so
the output JPEG is the SAME length with byte-identical coded image
data (decoded pixels cannot change) and no recoverable location.
This is the PII-removal pass a training-data pipeline runs over
crawled images; parsing never trusts offsets beyond the segment.

Reference parity note: /root/reference has no media layer — this
module belongs to the repo's LLM-training-data extensions (probe
first; strip PII in place without re-encoding).
"""

from __future__ import annotations

import struct

import numpy as np

from reindexer_spark.codecs import MediaFormatError

# TIFF value types (spec §2): id → byte size of one value (incl. the
# TIFF 6.0 FLOAT/DOUBLE types 11/12, which the GPS scrub must be able
# to SIZE so their out-of-line bytes get zeroed)
_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
    11: 4, 12: 8,
}
_MAX_IFD_ENTRIES = 512  # sanity cap: corrupt counts can't balloon walks


def _quarantining(fn):
    """Entry-point guard: ANY parser escape (struct.error on a
    truncated header, TypeError/ValueError on type-confused tag
    values, IndexError on short lists) becomes MediaFormatError — the
    repo-wide codec quarantine contract, same shape as
    codecs.decode_jpeg_baseline's wrapper."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except MediaFormatError:
            raise
        except (
            struct.error,
            ValueError,
            TypeError,
            IndexError,
            KeyError,
            OverflowError,
        ) as exc:
            raise MediaFormatError(
                f"malformed TIFF/EXIF structure: {exc}"
            ) from exc

    return wrapped

# IFD0 / Exif / GPS tag ids used here
TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_MAKE = 271
TAG_MODEL = 272
TAG_STRIP_OFFSETS = 273
TAG_ORIENTATION = 274
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_PLANAR = 284
TAG_COLORMAP = 320
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325
TAG_DATETIME = 306
TAG_EXIF_IFD = 34665
TAG_GPS_IFD = 34853
TAG_DT_ORIGINAL = 36867
GPS_LAT_REF = 1
GPS_LAT = 2
GPS_LON_REF = 3
GPS_LON = 4


def _fmt(le: bool) -> str:
    return "<" if le else ">"


def read_ifd(data: bytes, off: int, le: bool):
    """One IFD at ``off`` within the TIFF block ``data`` →
    (entries, next_ifd_offset).  entries: tag → dict(type, count,
    values, val_off, val_size); out-of-line offsets are validated
    against the block before any read."""
    f = _fmt(le)
    if off < 0 or off + 2 > len(data):
        raise MediaFormatError("TIFF IFD offset beyond block")
    (n,) = struct.unpack_from(f + "H", data, off)
    if n > _MAX_IFD_ENTRIES:
        raise MediaFormatError("TIFF IFD entry count implausible")
    end = off + 2 + 12 * n
    if end + 4 > len(data):
        raise MediaFormatError("TIFF IFD overruns block")
    entries: dict[int, dict] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(f + "HHI", data, e)
        size = _TYPE_SIZE.get(typ, 0) * cnt
        if size == 0:
            continue  # unknown type: skip, per spec readers must
        if size <= 4:
            voff = e + 8
        else:
            (voff,) = struct.unpack_from(f + "I", data, e + 8)
        if voff + size > len(data):
            raise MediaFormatError("TIFF value beyond block")
        raw = data[voff : voff + size]
        if typ == 2:
            values: object = raw.split(b"\x00", 1)[0].decode(
                "ascii", "replace"
            )
        elif typ in (3, 8):
            values = list(
                struct.unpack_from(f + "%dh" % cnt if typ == 8 else
                                   f + "%dH" % cnt, raw)
            )
        elif typ in (4, 9):
            values = list(
                struct.unpack_from(f + "%di" % cnt if typ == 9 else
                                   f + "%dI" % cnt, raw)
            )
        elif typ in (5, 10):
            flat = struct.unpack_from(
                (f + "%di" % (2 * cnt)) if typ == 10
                else (f + "%dI" % (2 * cnt)),
                raw,
            )
            values = [(flat[2 * j], flat[2 * j + 1]) for j in range(cnt)]
        else:  # BYTE / UNDEFINED
            values = list(raw)
        entries[tag] = {
            "type": typ,
            "count": cnt,
            "values": values,
            "val_off": voff,
            "val_size": size,
        }
    (nxt,) = struct.unpack_from(f + "I", data, end)
    return entries, nxt


def _tiff_header(payload: bytes) -> tuple[bool, int]:
    """→ (little_endian, first IFD offset); raises on a non-TIFF head."""
    if payload[:4] == b"II*\x00":
        le = True
    elif payload[:4] == b"MM\x00*":
        le = False
    else:
        raise MediaFormatError("not a TIFF payload")
    if len(payload) < 8:
        raise MediaFormatError("TIFF header truncated")
    (off,) = struct.unpack_from(_fmt(le) + "I", payload, 4)
    return le, off


@_quarantining
def probe_tiff(payload: bytes) -> dict:
    """Headers-only TIFF probe: dims + layout, zero sample bytes read."""
    le, off = _tiff_header(payload)
    ent, _nxt = read_ifd(payload, off, le)

    def one(tag, default=None):
        e = ent.get(tag)
        if e is None:
            return default
        v = e["values"]
        return v[0] if isinstance(v, list) else v

    if TAG_WIDTH not in ent or TAG_HEIGHT not in ent:
        raise MediaFormatError("TIFF IFD lacks image dimensions")
    bits = ent.get(TAG_BITS, {"values": [1]})["values"]
    strips = ent.get(TAG_STRIP_OFFSETS, {"count": 0})["count"]
    return {
        "kind": "tiff",
        "width": int(one(TAG_WIDTH)),
        "height": int(one(TAG_HEIGHT)),
        "compression": int(one(TAG_COMPRESSION, 1)),
        "bits": int(bits[0] if isinstance(bits, list) else bits),
        "spp": int(one(TAG_SPP, 1)),
        "photometric": int(one(TAG_PHOTOMETRIC, 1)),
        "n_strips": int(strips),
        "byte_order": "II" if le else "MM",
        "orientation": int(one(TAG_ORIENTATION, 1)),
    }


@_quarantining
def decode_tiff(payload: bytes) -> tuple[int, int, bytes]:
    """→ (width, height, RGB bytes) for the baseline subset; raises
    MediaFormatError for anything outside it (see module header)."""
    le, off = _tiff_header(payload)
    ent, _nxt = read_ifd(payload, off, le)

    def one(tag, default=None):
        e = ent.get(tag)
        if e is None:
            if default is None:
                raise MediaFormatError(f"TIFF missing required tag {tag}")
            return default
        v = e["values"]
        return v[0] if isinstance(v, list) else v

    w, h = int(one(TAG_WIDTH)), int(one(TAG_HEIGHT))
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
        raise MediaFormatError("TIFF dimensions out of range")
    comp = int(one(TAG_COMPRESSION, 1))
    if comp == 7:
        # new-style JPEG-in-TIFF (round 16): JPEGTables splice + the
        # production baseline JPEG decoder per strip/tile
        return _decode_tiff_jpeg(payload, ent, one, le, w, h)
    if comp == 6:
        # the deprecated §22 layout; never interoperable, nothing
        # modern writes it — quarantined BY NAME (TTN2 replaced it)
        raise MediaFormatError(
            "old-style JPEG-in-TIFF (Compression 6) not supported"
        )
    if comp in (2, 3, 4):
        # CCITT (round 16): the WHOLE family — Group 4 / T.6
        # (Compression 4), Group 3 proper (Compression 3, EOL-framed
        # 1-D/2-D per T4Options), and the 1-D Modified-Huffman RLE
        # layer (Compression 2)
        return _decode_tiff_g4(payload, ent, one, le, w, h, comp)
    if comp not in (1, 5, 8, 32773, 32946):
        raise MediaFormatError(
            f"TIFF compression {comp} outside the "
            "none/LZW/Deflate/PackBits subset"
        )
    predictor = int(one(317, 1))
    if predictor not in (1, 2):
        raise MediaFormatError("TIFF predictor outside the subset")
    planar = int(one(TAG_PLANAR, 1))
    if planar not in (1, 2):
        raise MediaFormatError(f"TIFF planar configuration {planar} unknown")
    pi = int(one(TAG_PHOTOMETRIC))
    spp = int(one(TAG_SPP, 1))
    bits = ent.get(TAG_BITS, {"values": [1]})["values"]
    if not isinstance(bits, list):
        bits = [bits]
    if not bits or any(b != bits[0] for b in bits):
        raise MediaFormatError("mixed per-channel TIFF bit depths")
    bps = int(bits[0])
    if bps not in (8, 16):
        raise MediaFormatError("only 8/16-bit TIFF samples supported")
    ss = bps // 8  # bytes per sample
    if pi == 2:
        if spp < 3:
            raise MediaFormatError("RGB TIFF needs 3 samples per pixel")
    elif pi in (0, 1):
        if spp != 1:
            raise MediaFormatError("grayscale TIFF needs 1 sample/pixel")
    elif pi == 3:
        # palette-color (round 15): 8-bit indices into a 3x256
        # 16-bit ColorMap; 16-bit indices would need a 196608-entry
        # map nothing real writes — quarantine those
        if spp != 1:
            raise MediaFormatError("palette TIFF needs 1 sample/pixel")
        if bps != 8:
            raise MediaFormatError(
                "palette TIFF with 16-bit indices not supported"
            )
        cme = ent.get(TAG_COLORMAP)
        if cme is None:
            raise MediaFormatError("palette TIFF missing ColorMap")
        cmap = cme["values"]
        if not isinstance(cmap, list) or len(cmap) != 3 * 256:
            raise MediaFormatError("TIFF ColorMap length mismatch")
    else:
        raise MediaFormatError(
            f"TIFF photometric {pi} (CMYK/YCbCr) not supported"
        )

    def decompress(raw: bytes, want: int) -> bytes:
        if comp == 5:
            raw = lzw_decode_tiff(raw, want)
        elif comp in (8, 32946):
            import zlib

            try:
                # bounded inflate: the expected size is known, so
                # never materialize more than want+1 bytes (a crafted
                # few-KB chunk must not balloon to GBs before the
                # length check rejects it)
                dec = zlib.decompressobj()
                raw = dec.decompress(raw, want + 1)
            except zlib.error as exc:
                raise MediaFormatError(f"TIFF deflate: {exc}") from exc
        elif comp == 32773:
            raw = packbits_decode(raw, want)
        if len(raw) != want:
            raise MediaFormatError("TIFF chunk length mismatch")
        return raw

    def unpredict(raw: bytes, row_w: int, nspp: int | None = None) -> bytes:
        if predictor != 2:
            return raw
        s = spp if nspp is None else nspp
        if bps == 16:
            return predictor2_decode16(raw, row_w, s, le)
        return predictor2_decode(raw, row_w, s)

    tiled = TAG_TILE_OFFSETS in ent or TAG_TILE_WIDTH in ent
    if planar == 2 and spp > 1 and tiled:
        raise MediaFormatError(
            "TIFF planar configuration 2 with tiles not supported"
        )
    if tiled:
        if TAG_STRIP_OFFSETS in ent or TAG_STRIP_COUNTS in ent:
            raise MediaFormatError("TIFF carries both strip and tile tables")
        for t in (TAG_TILE_WIDTH, TAG_TILE_LENGTH, TAG_TILE_OFFSETS,
                  TAG_TILE_COUNTS):
            if t not in ent:
                raise MediaFormatError("TIFF missing tile tables")
        tw, tl = int(one(TAG_TILE_WIDTH)), int(one(TAG_TILE_LENGTH))
        # §15: tile dims must be positive multiples of 16
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise MediaFormatError("TIFF tile dims not multiples of 16")
        offsets = ent[TAG_TILE_OFFSETS]["values"]
        counts = ent[TAG_TILE_COUNTS]["values"]
        if not isinstance(offsets, list):
            offsets = [offsets]
        if not isinstance(counts, list):
            counts = [counts]
        ta = (w + tw - 1) // tw
        td = (h + tl - 1) // tl
        if len(offsets) != ta * td or len(counts) != ta * td:
            raise MediaFormatError("TIFF tile tables disagree with grid")
        dt = np.uint16 if bps == 16 else np.uint8
        fdt = ("<u2" if le else ">u2") if bps == 16 else np.uint8
        plane = np.zeros((h, w, spp), dtype=dt)
        want = tl * tw * spp * ss
        for tj in range(td):
            for ti in range(ta):
                o = offsets[tj * ta + ti]
                c = counts[tj * ta + ti]
                if not isinstance(o, int) or not isinstance(c, int):
                    raise MediaFormatError("malformed TIFF tile tables")
                if o < 0 or c < 0 or o + c > len(payload):
                    raise MediaFormatError("TIFF tile beyond payload")
                raw = unpredict(decompress(payload[o : o + c], want), tw)
                t = np.frombuffer(raw, dtype=fdt).reshape(tl, tw, spp)
                rows = min(tl, h - tj * tl)
                cols = min(tw, w - ti * tw)
                plane[
                    tj * tl : tj * tl + rows, ti * tw : ti * tw + cols
                ] = t[:rows, :cols]
        a = plane.reshape(-1)
    else:
        if TAG_STRIP_OFFSETS not in ent or TAG_STRIP_COUNTS not in ent:
            raise MediaFormatError("TIFF missing strip tables")
        offsets = ent[TAG_STRIP_OFFSETS]["values"]
        counts = ent[TAG_STRIP_COUNTS]["values"]
        if not isinstance(offsets, list) or not isinstance(counts, list):
            raise MediaFormatError("malformed TIFF strip tables")
        if len(offsets) != len(counts):
            raise MediaFormatError("TIFF strip tables disagree")
        rps = int(one(TAG_ROWS_PER_STRIP, h))
        if rps <= 0:
            raise MediaFormatError("TIFF rows-per-strip out of range")
        fdt = ("<u2" if le else ">u2") if bps == 16 else np.uint8
        if planar == 2 and spp > 1:
            # PlanarConfiguration 2 (round 16): all of component 0's
            # strips, then component 1's, ... — each strip carries ONE
            # component, so Predictor 2 differences single-sample rows
            spi = (h + rps - 1) // rps
            if len(offsets) != spp * spi:
                raise MediaFormatError(
                    "TIFF strip tables disagree with the planar layout"
                )
            planes_raw = []
            for ci in range(spp):
                data = bytearray()
                for si in range(spi):
                    o = offsets[ci * spi + si]
                    c = counts[ci * spi + si]
                    if o < 0 or c < 0 or o + c > len(payload):
                        raise MediaFormatError("TIFF strip beyond payload")
                    rows = min(rps, h - si * rps)
                    want = rows * w * ss
                    data += unpredict(
                        decompress(payload[o : o + c], want), w, 1
                    )
                if len(data) != w * h * ss:
                    raise MediaFormatError(
                        "TIFF strip data does not tile the image"
                    )
                planes_raw.append(np.frombuffer(bytes(data), dtype=fdt))
            a = np.stack(planes_raw, axis=-1).reshape(-1)
        else:
            data = bytearray()
            for si, (o, c) in enumerate(zip(offsets, counts)):
                if o < 0 or c < 0 or o + c > len(payload):
                    raise MediaFormatError("TIFF strip beyond payload")
                rows = min(rps, h - si * rps)
                if rows <= 0:
                    raise MediaFormatError(
                        "TIFF strips exceed the image height"
                    )
                want = rows * w * spp * ss
                data += unpredict(decompress(payload[o : o + c], want), w)
            if len(data) != w * h * spp * ss:
                raise MediaFormatError(
                    "TIFF strip data does not tile the image"
                )
            a = np.frombuffer(bytes(data), dtype=fdt)
    if bps == 16:
        # decode contract stays 8-bit RGB: high byte of each sample
        a = (a.astype(np.uint16) >> 8).astype(np.uint8)
    if pi == 2:
        if spp == 3:
            rgb = np.ascontiguousarray(a).tobytes()
        else:  # extra samples (alpha): drop them
            rgb = np.ascontiguousarray(
                a.reshape(-1, spp)[:, :3]
            ).tobytes()
    elif pi == 3:
        # 16-bit ColorMap values (0xFFFF = full intensity): the 8-bit
        # channel is the high byte, per the standard scaling
        cm = (
            np.asarray(cmap, dtype=np.int64).reshape(3, 256) >> 8
        ).astype(np.uint8)
        rgb = np.ascontiguousarray(cm[:, a].T).tobytes()
    else:
        if pi == 0:  # WhiteIsZero: invert
            a = 255 - a
        rgb = np.repeat(a, 3).tobytes()
    return w, h, rgb


def encode_tiff(
    width: int,
    height: int,
    rgb: bytes,
    le: bool = True,
    gray: bool = False,
    rows_per_strip: int | None = None,
    compression: int = 1,
    predictor: int = 1,
    orientation: int = 1,
    gps_lat_milli: int | None = None,
    gps_lon_milli: int | None = None,
    tile: tuple[int, int] | None = None,
    bits: int = 8,
    planar: int = 1,
) -> bytes:
    """Fixture/production writer for the decode subset: strips (two by
    default, exercising the strip walk) or §15 TILES (``tile`` =
    (tile_width, tile_length), multiples of 16; edge tiles
    zero-padded), 8-bit gray/RGB or 16-BIT samples (``bits=16``:
    ``rgb`` must then be the raw sample bytes in the file's byte
    order, width*height*spp*2 of them), either byte order;
    ``compression`` 1 (none), 5 (LZW), 8 (Deflate) or 32773
    (PackBits), optionally with the horizontal-differencing
    ``predictor`` 2.  GPS millidegrees (when given) ride a real
    GPSInfo sub-IFD — the bare-TIFF location-PII carrier
    ``scrub_tiff_gps`` removes.  ``planar=2`` (round 16) writes
    PlanarConfiguration 2: all of one component's strips, then the
    next's (Predictor 2 then differences single-sample rows)."""
    if compression not in (1, 5, 8, 32773):
        raise MediaFormatError("unsupported TIFF write compression")
    if planar not in (1, 2):
        raise MediaFormatError("unsupported TIFF planar configuration")
    if planar == 2 and tile is not None:
        raise MediaFormatError("planar configuration 2 writes strips only")
    if bits not in (8, 16):
        raise MediaFormatError("unsupported TIFF write bit depth")
    f = _fmt(le)
    spp = 1 if gray else 3
    ss = bits // 8
    if bits == 16:
        if len(rgb) != width * height * spp * 2:
            raise MediaFormatError(
                "16-bit sample byte count does not match dimensions"
            )
        sam = rgb
    elif gray:
        if len(rgb) != width * height * 3:
            raise MediaFormatError(
                "rgb byte count does not match dimensions"
            )
        # ITU-R BT.601 integer luma, same coefficients as rgb_to_yuv
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3).astype(
            np.int32
        )
        sam = (
            (77 * px[:, 0] + 150 * px[:, 1] + 29 * px[:, 2] + 128) >> 8
        ).astype(np.uint8).tobytes()
    else:
        if len(rgb) != width * height * 3:
            raise MediaFormatError(
                "rgb byte count does not match dimensions"
            )
        sam = rgb

    def pack(raw: bytes, row_w: int, nspp: int | None = None) -> bytes:
        s = spp if nspp is None else nspp
        if predictor == 2:
            if bits == 16:
                raw = predictor2_encode16(raw, row_w, s, le)
            else:
                raw = predictor2_encode(raw, row_w, s)
        if compression == 5:
            raw = lzw_encode_tiff(raw)
        elif compression == 8:
            import zlib

            raw = zlib.compress(raw, 6)
        elif compression == 32773:
            raw = packbits_encode(raw)
        return raw

    if tile is not None:
        tw, tl = tile
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise MediaFormatError("tile dims must be multiples of 16")
        fdt = ("<u2" if le else ">u2") if bits == 16 else np.uint8
        plane = np.frombuffer(sam, dtype=fdt).reshape(height, width, spp)
        ta = (width + tw - 1) // tw
        td = (height + tl - 1) // tl
        strips = []
        for tj in range(td):
            for ti in range(ta):
                t = np.zeros((tl, tw, spp), dtype=fdt)
                rows = min(tl, height - tj * tl)
                cols = min(tw, width - ti * tw)
                t[:rows, :cols] = plane[
                    tj * tl : tj * tl + rows, ti * tw : ti * tw + cols
                ]
                strips.append(pack(t.tobytes(), tw))
    elif planar == 2 and spp > 1:
        rps = rows_per_strip or max(1, (height + 1) // 2)
        fdt = ("<u2" if le else ">u2") if bits == 16 else np.uint8
        plane = np.frombuffer(sam, dtype=fdt).reshape(height, width, spp)
        strips = []
        for ci in range(spp):
            comp = np.ascontiguousarray(plane[:, :, ci])
            for r in range(0, height, rps):
                strips.append(
                    pack(comp[r : min(r + rps, height)].tobytes(), width, 1)
                )
    else:
        rps = rows_per_strip or max(1, (height + 1) // 2)
        strips = []
        for r in range(0, height, rps):
            raw = sam[
                r * width * spp * ss
                : min(r + rps, height) * width * spp * ss
            ]
            strips.append(pack(raw, width))
    n = len(strips)
    tags = [
        (TAG_WIDTH, 3, [width]),
        (TAG_HEIGHT, 3, [height]),
        (TAG_BITS, 3, [bits] * spp),
        (TAG_COMPRESSION, 3, [compression]),
        (TAG_PHOTOMETRIC, 3, [2 if not gray else 1]),
        (TAG_SPP, 3, [spp]),
        (TAG_PLANAR, 3, [planar if spp > 1 else 1]),
    ]
    if tile is not None:
        tags += [
            (TAG_TILE_WIDTH, 3, [tile[0]]),
            (TAG_TILE_LENGTH, 3, [tile[1]]),
            (TAG_TILE_OFFSETS, 4, [0] * n),  # patched below
            (TAG_TILE_COUNTS, 4, [len(s) for s in strips]),
        ]
    else:
        tags += [
            (TAG_STRIP_OFFSETS, 4, [0] * n),  # patched below
            (TAG_ROWS_PER_STRIP, 3, [min(rps, 65535)]),
            (TAG_STRIP_COUNTS, 4, [len(s) for s in strips]),
        ]
    if predictor == 2:
        tags.append((317, 3, [2]))
    if orientation != 1:
        tags.append((TAG_ORIENTATION, 3, [orientation]))
    ifds = [tags]
    if gps_lat_milli is not None and gps_lon_milli is not None:
        tags.append((TAG_GPS_IFD, 4, [0]))  # patched below
        ifds.append([
            (GPS_LAT_REF, 2, "N" if gps_lat_milli >= 0 else "S"),
            (GPS_LAT, 5, _deg_to_rationals(abs(gps_lat_milli))),
            (GPS_LON_REF, 2, "E" if gps_lon_milli >= 0 else "W"),
            (GPS_LON, 5, _deg_to_rationals(abs(gps_lon_milli))),
        ])
    block, offs = _write_ifds(le, ifds)
    if len(offs) > 1:
        block = patch_entry(block, TAG_GPS_IFD, [offs[1]])
    return _append_chunks(
        block,
        TAG_TILE_OFFSETS if tile is not None else TAG_STRIP_OFFSETS,
        strips,
    )


def encode_tiff_palette(
    width: int,
    height: int,
    idx: bytes,
    colormap: list[int],
    le: bool = True,
    compression: int = 1,
) -> bytes:
    """Fixture/production writer for PALETTE-COLOR TIFF (PI 3,
    round 15): ``idx`` is width*height 8-bit palette indices,
    ``colormap`` the 768 16-bit ColorMap values (R plane, then G,
    then B — the spec's §6 layout).  Two strips, optional
    compression like :func:`encode_tiff`."""
    if len(idx) != width * height:
        raise MediaFormatError("index byte count does not match dims")
    if len(colormap) != 3 * 256:
        raise MediaFormatError("ColorMap must carry 3*256 values")
    if compression not in (1, 5, 8, 32773):
        raise MediaFormatError("unsupported TIFF write compression")
    rps = max(1, (height + 1) // 2)
    strips = []
    for r in range(0, height, rps):
        raw = idx[r * width : min(r + rps, height) * width]
        if compression == 5:
            raw = lzw_encode_tiff(raw)
        elif compression == 8:
            import zlib

            raw = zlib.compress(raw, 6)
        elif compression == 32773:
            raw = packbits_encode(raw)
        strips.append(raw)
    n = len(strips)
    tags = [
        (TAG_WIDTH, 3, [width]),
        (TAG_HEIGHT, 3, [height]),
        (TAG_BITS, 3, [8]),
        (TAG_COMPRESSION, 3, [compression]),
        (TAG_PHOTOMETRIC, 3, [3]),
        (TAG_STRIP_OFFSETS, 4, [0] * n),  # patched below
        (TAG_SPP, 3, [1]),
        (TAG_ROWS_PER_STRIP, 3, [min(rps, 65535)]),
        (TAG_STRIP_COUNTS, 4, [len(s) for s in strips]),
        (TAG_PLANAR, 3, [1]),
        (TAG_COLORMAP, 3, list(colormap)),
    ]
    block, _offs = _write_ifds(le, [tags])
    return _append_chunks(block, TAG_STRIP_OFFSETS, strips)


def _entry_bytes(f: str, typ: int, values) -> bytes:
    if typ == 2:
        raw = values.encode("ascii") + b"\x00"
    elif typ == 3:
        raw = struct.pack(f + "%dH" % len(values), *values)
    elif typ == 4:
        raw = struct.pack(f + "%dI" % len(values), *values)
    elif typ == 5:
        flat = [x for pair in values for x in pair]
        raw = struct.pack(f + "%dI" % len(flat), *flat)
    elif typ in (1, 7):
        raw = bytes(values)
    else:
        raise MediaFormatError(f"unsupported TIFF write type {typ}")
    return raw


def _write_ifds(le: bool, ifds: list[list[tuple]]) -> tuple[bytes, list]:
    """Serialize a TIFF block: header + the given IFDs (each a list of
    (tag, type, values)) laid out sequentially, out-of-line values in
    a shared data area.  Returns (block, [ifd offsets])."""
    f = _fmt(le)
    head = (b"II*\x00" if le else b"MM\x00*") + struct.pack(f + "I", 8)
    ifd_offs = []
    pos = 8
    sizes = []
    for tags in ifds:
        ifd_offs.append(pos)
        sizes.append(2 + 12 * len(tags) + 4)
        pos += sizes[-1]
    data_area = bytearray()
    data_base = pos
    chunks = [head]
    for tags, ioff in zip(ifds, ifd_offs):
        body = bytearray(struct.pack(f + "H", len(tags)))
        for tag, typ, values in sorted(tags, key=lambda t: t[0]):
            cnt = (
                len(values) + 1
                if typ == 2
                else len(values)
            )
            raw = _entry_bytes(f, typ, values)
            body += struct.pack(f + "HHI", tag, typ, cnt)
            if len(raw) <= 4:
                body += raw.ljust(4, b"\x00")
            else:
                body += struct.pack(f + "I", data_base + len(data_area))
                data_area += raw
                if len(raw) & 1:
                    data_area += b"\x00"
        body += struct.pack(f + "I", 0)  # next IFD
        chunks.append(bytes(body))
    return b"".join(chunks) + bytes(data_area), ifd_offs


_PACK_CODE = {1: "B", 3: "H", 4: "I", 7: "B"}


def patch_entry(tiff: bytes, tag: int, values=None, count=None) -> bytes:
    """Copy of the TIFF block ``tiff`` with IFD0's ``tag`` entry
    rewritten in the block's own byte order: its first ``len(values)``
    values, packed as the entry's type (BYTE, SHORT, LONG or
    UNDEFINED), and/or its ``count`` field.  The one IFD0 patcher:
    the writers fill in offsets with it, fault fixtures break a tag
    with it.  Raises MediaFormatError when IFD0 lacks the tag."""
    le, off = _tiff_header(tiff)
    f = _fmt(le)
    block = bytearray(tiff)
    (n,) = struct.unpack_from(f + "H", block, off)
    for i in range(n):
        e = off + 2 + 12 * i
        t, typ, cnt = struct.unpack_from(f + "HHI", block, e)
        if t != tag:
            continue
        if values is not None:
            if typ not in _PACK_CODE:
                raise MediaFormatError(f"cannot patch TIFF type {typ}")
            voff = e + 8
            if _TYPE_SIZE[typ] * cnt > 4:
                (voff,) = struct.unpack_from(f + "I", block, voff)
            struct.pack_into(
                f + "%d%s" % (len(values), _PACK_CODE[typ]), block, voff,
                *values,
            )
        if count is not None:
            struct.pack_into(f + "I", block, e + 4, count)
        return bytes(block)
    raise MediaFormatError("patch target tag not found")


def _append_chunks(block: bytes, tag: int, chunks: list[bytes]) -> bytes:
    """The IFD block with ``chunks`` (strips or tiles) appended and
    their offsets written into IFD0's ``tag``."""
    offsets, pos = [], len(block)
    for c in chunks:
        offsets.append(pos)
        pos += len(c)
    return patch_entry(block, tag, offsets) + b"".join(chunks)


# ---------------------------------------------------------------------------
# EXIF over JPEG APP1
# ---------------------------------------------------------------------------

_EXIF_HEAD = b"Exif\x00\x00"


def _deg_to_rationals(value_milli: int) -> list[tuple[int, int]]:
    """Millidegrees → (deg, min, sec×100) rationals, the standard EXIF
    GPS encoding shape."""
    deg = value_milli // 1000
    rem = value_milli % 1000  # millidegrees
    minutes = rem * 60 // 1000
    sec100 = (rem * 60 % 1000) * 6000 // 1000
    return [(deg, 1), (minutes, 1), (sec100, 100)]


def build_exif_app1(
    orientation: int = 1,
    datetime: str = "2020:01:01 00:00:00",
    make: str = "spark-graft",
    model: str = "fixture",
    dt_original: str | None = None,
    gps_lat_milli: int | None = None,
    gps_lon_milli: int | None = None,
    le: bool = True,
) -> bytes:
    """→ a complete APP1 segment (FF E1 len 'Exif\\0\\0' + TIFF block)
    with IFD0 (Make/Model/Orientation/DateTime + Exif & GPS pointers),
    an Exif sub-IFD (DateTimeOriginal) and, when coordinates are
    given, a GPS sub-IFD."""
    f = _fmt(le)
    exif_tags = [(TAG_DT_ORIGINAL, 2, dt_original or datetime)]
    gps_tags = []
    if gps_lat_milli is not None and gps_lon_milli is not None:
        gps_tags = [
            (GPS_LAT_REF, 2, "N" if gps_lat_milli >= 0 else "S"),
            (GPS_LAT, 5, _deg_to_rationals(abs(gps_lat_milli))),
            (GPS_LON_REF, 2, "E" if gps_lon_milli >= 0 else "W"),
            (GPS_LON, 5, _deg_to_rationals(abs(gps_lon_milli))),
        ]
    ifd0 = [
        (TAG_MAKE, 2, make),
        (TAG_MODEL, 2, model),
        (TAG_ORIENTATION, 3, [orientation]),
        (TAG_DATETIME, 2, datetime),
        (TAG_EXIF_IFD, 4, [0]),  # patched below
    ]
    ifds = [ifd0, exif_tags]
    if gps_tags:
        ifd0.append((TAG_GPS_IFD, 4, [0]))
        ifds.append(gps_tags)
    block, offs = _write_ifds(le, ifds)
    block = patch_entry(block, TAG_EXIF_IFD, [offs[1]])
    if gps_tags:
        block = patch_entry(block, TAG_GPS_IFD, [offs[2]])
    body = _EXIF_HEAD + block
    if len(body) + 2 > 0xFFFF:
        raise MediaFormatError("EXIF block too large for one APP1")
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_exif(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise MediaFormatError("not a JPEG payload (missing SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def _find_exif_app1(jpeg: bytes):
    """→ (seg_start, tiff_start, tiff_len) of the Exif APP1, or None.
    Walks markers exactly like the decoder; stops at SOS."""
    if jpeg[:2] != b"\xff\xd8":
        raise MediaFormatError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise MediaFormatError("JPEG marker desync")
        marker = jpeg[pos + 1]
        if marker in (0xDA, 0xD9):  # SOS / EOI: no headers past here
            return None
        (length,) = struct.unpack_from(">H", jpeg, pos + 2)
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == _EXIF_HEAD:
            return pos, pos + 10, length - 2 - 6
        pos += 2 + length
    return None


def _find_all_exif_app1(jpeg: bytes) -> list:
    """EVERY Exif APP1 in the marker stream as [(seg_start,
    tiff_start, tiff_len)].  A writer should emit at most one, but
    adversarial crawled files carry duplicates — the GPS scrub must
    visit all of them or location data survives in the second
    segment (ADVICE r15)."""
    if jpeg[:2] != b"\xff\xd8":
        raise MediaFormatError("not a JPEG payload (missing SOI)")
    out = []
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise MediaFormatError("JPEG marker desync")
        marker = jpeg[pos + 1]
        if marker in (0xDA, 0xD9):  # SOS / EOI: no headers past here
            break
        (length,) = struct.unpack_from(">H", jpeg, pos + 2)
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == _EXIF_HEAD:
            out.append((pos, pos + 10, length - 2 - 6))
        pos += 2 + length
    return out


@_quarantining
def parse_exif(jpeg: bytes) -> dict | None:
    """EXIF metadata from a JPEG, or None when no Exif APP1 rides it.
    Keys: make, model, orientation, datetime, dt_original,
    gps (dict with lat_milli/lon_milli, or None)."""
    loc = _find_exif_app1(jpeg)
    if loc is None:
        return None
    _seg, t0, tlen = loc
    block = jpeg[t0 : t0 + tlen]
    le, off = _tiff_header(block)
    ifd0, _ = read_ifd(block, off, le)

    def sval(ent, tag):
        e = ent.get(tag)
        if e is None:
            return None
        v = e["values"]
        return v if isinstance(v, str) else (v[0] if v else None)

    out = {
        "make": sval(ifd0, TAG_MAKE),
        "model": sval(ifd0, TAG_MODEL),
        "orientation": sval(ifd0, TAG_ORIENTATION),
        "datetime": sval(ifd0, TAG_DATETIME),
        "dt_original": None,
        "gps": None,
    }
    if TAG_EXIF_IFD in ifd0:
        sub, _ = read_ifd(block, ifd0[TAG_EXIF_IFD]["values"][0], le)
        out["dt_original"] = sval(sub, TAG_DT_ORIGINAL)
    out["gps"] = parse_gps_milli(block)
    return out


@_quarantining
def parse_gps_milli(block: bytes) -> dict | None:
    """GPS coordinates from a bare TIFF block →
    {lat_milli, lon_milli} or None (round 15: factored out of
    parse_exif so the PNG eXIf / WebP EXIF carriers can parse the
    same way)."""
    le, off = _tiff_header(block)
    ifd0, _ = read_ifd(block, off, le)
    if TAG_GPS_IFD not in ifd0:
        return None
    gps, _ = read_ifd(block, ifd0[TAG_GPS_IFD]["values"][0], le)
    if GPS_LAT not in gps or GPS_LON not in gps:
        return None
    if gps[GPS_LAT]["count"] != 3 or gps[GPS_LON]["count"] != 3:
        raise MediaFormatError(
            "GPS coordinate rationals must be deg/min/sec triples"
        )

    def milli(rats) -> int:
        # exact inverse of _deg_to_rationals for its
        # (deg/1, min/1, sec*100/100) shape: r2 = sec100/6 is
        # exact (sec100 is a multiple of 6 by construction),
        # rem = (min*1000 + r2)/60 is the div/mod identity
        (d, dd), (m, md), (s100, sd) = rats
        if (dd, md, sd) != (1, 1, 100):
            # foreign denominators: round to nearest milli
            return round(
                1000
                * (d / max(dd, 1) + m / max(md, 1) / 60
                   + s100 / max(sd, 1) / 3600)
            )
        return d * 1000 + (m * 1000 + s100 // 6) // 60

    lat = milli(gps[GPS_LAT]["values"])
    lon = milli(gps[GPS_LON]["values"])
    if (gps.get(GPS_LAT_REF, {}).get("values") or "N") == "S":
        lat = -lat
    if (gps.get(GPS_LON_REF, {}).get("values") or "E") == "W":
        lon = -lon
    return {"lat_milli": lat, "lon_milli": lon}


# A legitimate multi-page TIFF carries one IFD per page on IFD0's
# next-IFD chain; bound the walk generously but FINITELY so a crafted
# cycle quarantines instead of spinning.
_MAX_MAIN_IFD_HOPS = 64


def _main_ifd_chain(block: bytes, le: bool, off: int) -> list:
    """Every IFD on the main (IFD0 → IFD1 → …) chain as
    [(offset, entries)].  Raises when the chain exceeds
    ``_MAX_MAIN_IFD_HOPS`` — an unbounded/cyclic chain could hide a
    GPS pointer past the walk, so the scrub must quarantine rather
    than claim success (ADVICE r15)."""
    out = []
    ioff = off
    for _hop in range(_MAX_MAIN_IFD_HOPS):
        ent, nxt = read_ifd(block, ioff, le)
        out.append((ioff, ent))
        if not nxt:
            return out
        ioff = nxt
    raise MediaFormatError(
        "TIFF main IFD chain too long or cyclic: GPS removal cannot "
        "be guaranteed"
    )


def _protected_ranges(block: bytes, le: bool, off: int) -> list:
    """Byte ranges the GPS scrub must NEVER touch: every IFD on the
    main chain (IFD0, IFD1, …) and each one's Exif sub-IFD (spans +
    their out-of-line values) and, for bare TIFF files, every strip's
    sample data.  A crafted GPS pointer aimed at any of these
    quarantines instead of silently corrupting."""
    f = _fmt(le)
    out: list[tuple[int, int]] = []

    def add_ifd(ioff: int) -> dict:
        (n,) = struct.unpack_from(f + "H", block, ioff)
        out.append((ioff, ioff + 2 + 12 * n + 4))
        ent, _ = read_ifd(block, ioff, le)
        for e in ent.values():
            if e["val_size"] > 4:
                out.append((e["val_off"], e["val_off"] + e["val_size"]))
        return ent

    for ioff, ent in _main_ifd_chain(block, le, off):
        ifd = add_ifd(ioff)
        if TAG_EXIF_IFD in ifd:
            add_ifd(ifd[TAG_EXIF_IFD]["values"][0])
        for to, tc in (
            (TAG_STRIP_OFFSETS, TAG_STRIP_COUNTS),
            (TAG_TILE_OFFSETS, TAG_TILE_COUNTS),
        ):
            so = ifd.get(to)
            sc = ifd.get(tc)
            if so is not None and sc is not None:
                offs, cnts = so["values"], sc["values"]
                if not isinstance(offs, list):
                    offs = [offs]
                if not isinstance(cnts, list):
                    cnts = [cnts]
                for o, c in zip(offs, cnts):
                    if isinstance(o, int) and isinstance(c, int) and c > 0:
                        out.append((o, o + c))
    return out


def _scrub_gps_block(block: bytearray) -> bool:
    """Zero a TIFF block's GPS IFD chain in place (shared by the
    JPEG-APP1 and bare-TIFF scrubs): out-of-line values, then the
    entries and next-IFD pointer, then the entry count — for EVERY
    IFD on the GPS chain (a chained next pointer must not hide
    coordinates) hanging off EVERY main-chain IFD (IFD0, IFD1, … —
    a GPS pointer on a later page must not survive; ADVICE r15).
    Quarantines rather than scrubs when removal cannot be
    GUARANTEED: a GPS entry of a type the walker cannot size
    (possible unzeroed out-of-line bytes), a zero range overlapping
    image data / other metadata (a crafted pointer must not corrupt
    pixels while claiming a clean scrub), or a GPS/main chain longer
    than the walk bound (hop-9+ IFDs would keep their coordinates
    while the scrub claimed success).  Returns whether any GPS data
    was present."""
    le, off = _tiff_header(bytes(block))
    f = _fmt(le)
    main = _main_ifd_chain(bytes(block), le, off)
    gps_roots = [
        ent[TAG_GPS_IFD]["values"][0]
        for _ioff, ent in main
        if TAG_GPS_IFD in ent
    ]
    if not gps_roots:
        return False
    protected = _protected_ranges(bytes(block), le, off)

    def clashes(a: int, b: int) -> bool:
        return any(a < pe and ps < b for ps, pe in protected)

    had = False
    for goff in gps_roots:
        nxt = 0
        for _hop in range(8):  # chain bound: corrupt cycles can't spin
            gps, nxt = read_ifd(bytes(block), goff, le)
            (n,) = struct.unpack_from(f + "H", block, goff)
            if n == 0:
                nxt = 0
                break  # already empty (e.g. a prior scrub)
            # every entry must be SIZEABLE, or its out-of-line bytes
            # could survive the scrub — refuse to claim success
            for i in range(n):
                e = goff + 2 + 12 * i
                _tag, typ, cnt = struct.unpack_from(f + "HHI", block, e)
                if typ not in _TYPE_SIZE:
                    raise MediaFormatError(
                        "GPS IFD entry of unknown type: removal cannot "
                        "be guaranteed"
                    )
            span = 2 + 12 * n + 4
            if clashes(goff, goff + span):
                raise MediaFormatError(
                    "GPS IFD overlaps image data or other metadata"
                )
            # zero out-of-line values first (entries still describe
            # them)
            for e in gps.values():
                if e["val_size"] > 4:
                    if clashes(e["val_off"], e["val_off"] + e["val_size"]):
                        raise MediaFormatError(
                            "GPS value overlaps image data or other "
                            "metadata"
                        )
                    block[
                        e["val_off"] : e["val_off"] + e["val_size"]
                    ] = bytes(e["val_size"])
            # then the entries and the next-IFD pointer, then the count
            block[goff + 2 : goff + span] = bytes(span - 2)
            struct.pack_into(f + "H", block, goff, 0)
            had = True
            if not nxt:
                break
            goff = nxt
        if nxt:
            # hop cap hit with the chain still pointing onward: the
            # unvisited IFDs were never zeroed — quarantine instead of
            # claiming a clean scrub (ADVICE r15)
            raise MediaFormatError(
                "GPS IFD chain too long or cyclic: removal cannot be "
                "guaranteed"
            )
    return had


@_quarantining
def scrub_exif_gps(jpeg: bytes) -> tuple[bytes, bool]:
    """Remove GPS data from a JPEG's EXIF IN PLACE: the GPS IFD's
    entry count becomes 0 and every entry plus its out-of-line value
    bytes are zeroed (all confined to the APP1 segment).  The segment
    length — and therefore every other byte offset in the file — is
    unchanged, so coded image data is untouched and decoded pixels
    are byte-identical.  EVERY Exif APP1 segment is scrubbed, not
    just the first — a duplicate segment must not keep a recoverable
    location (ADVICE r15).  Returns (jpeg_bytes, had_gps)."""
    locs = _find_all_exif_app1(jpeg)
    if not locs:
        return jpeg, False
    out = bytearray(jpeg)
    had = False
    for _seg, t0, tlen in locs:
        block = bytearray(jpeg[t0 : t0 + tlen])
        if _scrub_gps_block(block):
            out[t0 : t0 + tlen] = block
            had = True
    if not had:
        return jpeg, False
    return bytes(out), True


@_quarantining
def scrub_png_gps(payload: bytes) -> tuple[bytes, bool]:
    """PNG twin of :func:`scrub_exif_gps` (round 15): the eXIf chunk
    carries a raw TIFF block — zero its GPS IFD chain in place and
    recompute the chunk CRC.  File length unchanged, IDAT untouched,
    decoded pixels byte-identical.  EVERY eXIf chunk is visited.
    Returns (png_bytes, had_gps)."""
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise MediaFormatError("not a PNG payload")
    out = bytearray(payload)
    pos = 8
    had = False
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if body + ln + 4 > len(payload):
            raise MediaFormatError("PNG chunk overruns payload")
        if ctype == b"eXIf":
            block = bytearray(payload[body : body + ln])
            if _scrub_gps_block(block):
                out[body : body + ln] = block
                struct.pack_into(
                    ">I", out, body + ln,
                    zlib.crc32(b"eXIf" + bytes(block)) & 0xFFFFFFFF,
                )
                had = True
        pos = body + ln + 4
        if ctype == b"IEND":
            break
    return (bytes(out), True) if had else (payload, False)


def insert_png_exif(png: bytes, tiff_block: bytes) -> bytes:
    """Insert an eXIf chunk (raw TIFF block) right after IHDR."""
    import zlib

    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise MediaFormatError("not a PNG payload")
    (ln,) = struct.unpack_from(">I", png, 8)
    end_ihdr = 8 + 8 + ln + 4
    chunk = (
        struct.pack(">I", len(tiff_block))
        + b"eXIf"
        + tiff_block
        + struct.pack(
            ">I", zlib.crc32(b"eXIf" + tiff_block) & 0xFFFFFFFF
        )
    )
    return png[:end_ihdr] + chunk + png[end_ihdr:]


@_quarantining
def scrub_webp_gps(payload: bytes) -> tuple[bytes, bool]:
    """WebP twin of :func:`scrub_exif_gps` (round 15): the EXIF chunk
    carries a TIFF block (some writers prefix it with 'Exif\\0\\0' —
    both shapes handled); zero its GPS IFD chain in place.  RIFF has
    no CRC, so the file stays the same length with only GPS bytes
    changed.  EVERY EXIF chunk is visited.  Returns
    (webp_bytes, had_gps)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise MediaFormatError("not a WebP payload")
    out = bytearray(payload)
    pos = 12
    had = False
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + size > len(payload):
            raise MediaFormatError("WebP chunk overruns payload")
        if cid == b"EXIF":
            off = 6 if payload[body : body + 6] == _EXIF_HEAD else 0
            block = bytearray(payload[body + off : body + size])
            if _scrub_gps_block(block):
                out[body + off : body + size] = block
                had = True
        pos = body + size + (size & 1)
    return (bytes(out), True) if had else (payload, False)


def insert_webp_exif(webp: bytes, tiff_block: bytes) -> bytes:
    """Append an EXIF chunk to a WebP, adding/patching the VP8X
    extended header (EXIF flag 0x08) the spec requires.  Canvas dims
    for a synthesized VP8X come from the first VP8/VP8L chunk."""
    if webp[:4] != b"RIFF" or webp[8:12] != b"WEBP":
        raise MediaFormatError("not a WebP payload")
    chunks = []
    pos = 12
    w = h = None
    while pos + 8 <= len(webp):
        cid = webp[pos : pos + 4]
        (size,) = struct.unpack_from("<I", webp, pos + 4)
        body = pos + 8
        data = webp[body : body + size]
        if cid == b"VP8 " and w is None:
            vw, vh = struct.unpack_from("<HH", data, 6)
            w, h = vw & 0x3FFF, vh & 0x3FFF
        elif cid == b"VP8L" and w is None:
            (bits,) = struct.unpack_from("<I", data, 1)
            w, h = (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        chunks.append([cid, data])
        pos = body + size + (size & 1)
    if chunks and chunks[0][0] == b"VP8X":
        d = bytearray(chunks[0][1])
        d[0] |= 0x08  # EXIF flag
        chunks[0][1] = bytes(d)
    else:
        if w is None:
            raise MediaFormatError("WebP lacks a VP8/VP8L chunk")
        vp8x = (
            bytes([0x08, 0, 0, 0])
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
        chunks.insert(0, [b"VP8X", vp8x])
    chunks.append([b"EXIF", _EXIF_HEAD + tiff_block])

    def riff(cid: bytes, data: bytes) -> bytes:
        return (
            cid
            + struct.pack("<I", len(data))
            + data
            + (b"\x00" if len(data) & 1 else b"")
        )

    body2 = b"".join(riff(c, d) for c, d in chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(body2)) + b"WEBP" + body2


@_quarantining
def scrub_image_gps(payload: bytes) -> tuple[bytes, bool, str]:
    """Format-dispatched GPS scrub — the one PII entry point a crawl
    pipeline calls per image: JPEG APP1, bare TIFF, PNG eXIf, WebP
    EXIF.  Returns (bytes, had_gps, kind); unknown formats
    quarantine (never silently claim a clean scrub)."""
    if payload[:2] == b"\xff\xd8":
        b, had = scrub_exif_gps(payload)
        return b, had, "jpeg"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        b, had = scrub_tiff_gps(payload)
        return b, had, "tiff"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        b, had = scrub_png_gps(payload)
        return b, had, "png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        b, had = scrub_webp_gps(payload)
        return b, had, "webp"
    raise MediaFormatError(
        "no GPS scrub for this payload format: removal cannot be "
        "guaranteed"
    )


@_quarantining
def scrub_tiff_gps(payload: bytes) -> tuple[bytes, bool]:
    """The bare-TIFF twin of :func:`scrub_exif_gps`: TIFF files carry
    the same GPSInfo IFD (tag 34853) directly in IFD0 — zero it in
    place.  File length unchanged, sample strips untouched, decoded
    pixels byte-identical.  Returns (tiff_bytes, had_gps)."""
    block = bytearray(payload)
    if not _scrub_gps_block(block):
        return payload, False
    return bytes(block), True


# ---------------------------------------------------------------------------
# TIFF compression schemes (round 14, late): LZW (§13) and PackBits (§9)
# ---------------------------------------------------------------------------
# TIFF LZW differs from GIF's: codes pack MSB-FIRST, the alphabet is
# fixed at 8 bits (Clear=256, EOI=257, first dynamic entry 258), and
# the code width grows ONE CODE EARLY (the spec's "NextCode equals
# 511/1023/2047" rule — the famous EarlyChange).  Encoder and decoder
# below mirror each other; transcription fidelity is additionally
# pinned by a hand-computed known-codes vector in tests/test_tiff.py
# (the round-trip cannot catch a shared off-by-one, the directed
# bitstream can).

_LZW_CLEAR = 256
_LZW_EOI = 257


class _MsbWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)

    def finish(self) -> bytes:
        if self.nbits:
            self.buf.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = self.nbits = 0
        return bytes(self.buf)


def lzw_encode_tiff(data: bytes) -> bytes:
    w = _MsbWriter()
    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    nxt = 258
    width = 9
    w.put(_LZW_CLEAR, width)
    omega = b""
    for b in data:
        cand = omega + bytes((b,))
        if cand in table:
            omega = cand
            continue
        w.put(table[omega], width)
        table[cand] = nxt
        nxt += 1
        if nxt in (511, 1023, 2047):
            width += 1
        omega = bytes((b,))
        if nxt == 4094:
            # table full: flush the pending string, clear, restart
            w.put(table[omega], width)
            w.put(_LZW_CLEAR, width)
            table = {bytes((i,)): i for i in range(256)}
            nxt = 258
            width = 9
            omega = b""
    if omega:
        w.put(table[omega], width)
    w.put(_LZW_EOI, width)
    return w.finish()


def _lzw_decode_tiff_scalar(data: bytes, n_expected: int) -> bytes:
    """Reference per-code decoder (the round-14 original) — kept as
    the cross-check twin of the vectorized path and the dispatch for
    tiny strips where numpy setup costs more than it saves."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = nbits = pos = 0
    old: bytes | None = None

    def init() -> None:
        nonlocal table, width
        table = [bytes((i,)) for i in range(256)] + [b"", b""]
        width = 9

    init()
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise MediaFormatError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            init()
            old = None
            continue
        if old is None:
            if code >= 256:
                raise MediaFormatError("TIFF LZW first code not literal")
            s = table[code]
        elif code < len(table):
            s = table[code]
            table.append(old + s[:1])
        elif code == len(table):
            s = old + old[:1]
            table.append(s)
        else:
            raise MediaFormatError("TIFF LZW code beyond table")
        # EarlyChange, decoder side: the decoder's table lags the
        # encoder's by exactly one entry (the encoder adds as it
        # WRITES a code, the decoder adds as it reads the NEXT one),
        # so it must widen one entry earlier — at 510/1022/2046 —
        # to read the encoder's 511/1023/2047 boundary codes at the
        # new width.  This asymmetry IS the §13 early-change rule.
        if len(table) in (510, 1022, 2046):
            width += 1
        if width > 12:
            raise MediaFormatError("TIFF LZW width overflow")
        out += s
        old = s
    if len(out) != n_expected:
        raise MediaFormatError("TIFF LZW strip length mismatch")
    return bytes(out)


# Code-width schedule since the last Clear: the decoder's table has
# 258 + i entries after reading code i (the first code after Clear
# appends nothing), and EarlyChange widens at 510/1022/2046 — so the
# width of the i-th code is a pure function of i.  This determinism
# is what lets the vectorized decoder locate EVERY code boundary of
# a Clear-to-Clear span in one numpy pass (the VP8L bulk-bit-gather
# precedent applied to LZW).
_LZW_SCHED_CUM: "np.ndarray | None" = None


def _lzw_sched_cum(n: int) -> "np.ndarray":
    """Cumulative bit length of the first n codes since a Clear
    (cum[i] = total bits of codes 0..i), cached and grown lazily."""
    global _LZW_SCHED_CUM
    if _LZW_SCHED_CUM is None or len(_LZW_SCHED_CUM) < n:
        m = max(n, 8192)
        w = np.full(m, 12, dtype=np.int64)
        w[:253] = 9
        w[253:765] = 10
        w[765:1789] = 11
        _LZW_SCHED_CUM = np.cumsum(w)
    return _LZW_SCHED_CUM


def lzw_decode_tiff(data: bytes, n_expected: int) -> bytes:
    """§13 LZW decode, vectorized: code boundaries for each
    Clear-to-Clear span come from the deterministic width schedule
    (one numpy gather extracts every code), and emission exploits
    that every table entry ≥258 is a CONTIGUOUS substring of the
    output already produced (entry created at step i = the step-i-1
    string plus the first byte of the step-i string, which sit
    adjacent in the output buffer) — so each code is one C-level
    slice copy into a preallocated buffer instead of per-code bytes
    concatenation.  Byte-for-byte equal to the scalar reference
    (property-pinned in tests/test_tiff.py)."""
    if n_expected < 0:
        raise MediaFormatError("TIFF LZW negative strip length")
    if len(data) < 192 or n_expected == 0:
        return _lzw_decode_tiff_scalar(data, n_expected)
    arr = np.frombuffer(data + b"\x00\x00", dtype=np.uint8).astype(np.int64)
    total_bits = len(data) * 8
    out = bytearray(n_expected)
    d = 0  # write cursor
    bitpos = 0
    count = 0  # codes read since last Clear (schedule index)
    # per-Clear-cycle table: entry j (code 258+j) = out[srcs[j] :
    # srcs[j] + lens[j]]
    srcs: list[int] = []
    lens: list[int] = []
    prev_d = -1  # emission start of the previous code (-1: none yet)
    ended = False
    while d < n_expected and not ended:
        # extract up to max_codes codes starting at bitpos
        max_codes = min(n_expected - d + 2, 65536)
        cum = _lzw_sched_cum(count + max_codes)
        base = cum[count - 1] if count else 0
        ends = bitpos + (cum[count : count + max_codes] - base)
        k = int(np.searchsorted(ends, total_bits, side="right"))
        if k == 0:
            raise MediaFormatError("TIFF LZW stream truncated")
        ends = ends[:k]
        widths = np.diff(ends, prepend=bitpos)
        offs = ends - widths
        byte = offs >> 3
        vals = (arr[byte] << 16) | (arr[byte + 1] << 8) | arr[byte + 2]
        codes = (vals >> (24 - (offs & 7) - widths)) & ((1 << widths) - 1)
        # cut the span at the first Clear/EOI
        spec = np.nonzero((codes == _LZW_CLEAR) | (codes == _LZW_EOI))[0]
        stop = int(spec[0]) if len(spec) else k
        span = codes[:stop].tolist()
        # expand the span: one slice copy per code
        nt = len(srcs)
        for code in span:
            if d >= n_expected:
                break  # scalar loop also stops reading here
            if code < 256:
                if prev_d >= 0:
                    srcs.append(prev_d)
                    lens.append(d - prev_d + 1)
                    nt += 1
                out[d] = code
                prev_d = d
                d += 1
            else:
                j = code - 258
                if prev_d < 0:
                    raise MediaFormatError(
                        "TIFF LZW first code not literal"
                    )
                if j < nt:
                    s = srcs[j]
                    L = lens[j]
                    srcs.append(prev_d)
                    lens.append(d - prev_d + 1)
                    nt += 1
                    nd = d + L
                    if nd > n_expected:
                        raise MediaFormatError(
                            "TIFF LZW strip length mismatch"
                        )
                    out[d:nd] = out[s : s + L]
                    prev_d = d
                    d = nd
                elif j == nt:
                    # cur = prev + prev[0]: a forward-overlapping copy
                    # whose final byte is the region's own first byte
                    L = d - prev_d + 1
                    srcs.append(prev_d)
                    lens.append(L)
                    nt += 1
                    nd = d + L
                    if nd > n_expected:
                        raise MediaFormatError(
                            "TIFF LZW strip length mismatch"
                        )
                    out[d : nd - 1] = out[prev_d:d]
                    out[nd - 1] = out[prev_d]
                    prev_d = d
                    d = nd
                else:
                    raise MediaFormatError("TIFF LZW code beyond table")
        if d >= n_expected:
            break
        count += stop
        if stop < k:  # hit a Clear or EOI
            bitpos = int(ends[stop])
            count += 1
            if codes[stop] == _LZW_EOI:
                ended = True
            else:  # Clear: reset table, schedule, and chain state
                count = 0
                srcs = []
                lens = []
                prev_d = -1
        else:  # span filled the extraction window: continue the cycle
            bitpos = int(ends[k - 1])
    if d != n_expected:
        raise MediaFormatError("TIFF LZW strip length mismatch")
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # run of >= 2 identical bytes → repeat packet
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j > i:
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
            continue
        # literal run until the next 3-byte repeat (2-byte runs are
        # cheaper inside a literal) or the 128 cap
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (
                j + 2 <= n - 1
                and data[j] == data[j + 1] == data[j + 2]
            )
        ):
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def packbits_decode(data: bytes, n_expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < n_expected:
        if i >= len(data):
            raise MediaFormatError("PackBits strip truncated")
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise MediaFormatError("PackBits literal overruns strip")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise MediaFormatError("PackBits repeat overruns strip")
            out += bytes((data[i],)) * (257 - n)
            i += 1
        # n == 128: noop, per spec
    if len(out) != n_expected:
        raise MediaFormatError("PackBits strip length mismatch")
    return bytes(out)


def predictor2_encode(rows: bytes, width: int, spp: int) -> bytes:
    """§14 horizontal differencing, 8-bit: sample minus the previous
    sample of the same channel within the row (mod 256)."""
    import numpy as np

    a = np.frombuffer(rows, dtype=np.uint8).reshape(-1, width, spp)
    d = a.copy()
    d[:, 1:, :] = (
        a[:, 1:, :].astype(np.int16) - a[:, :-1, :].astype(np.int16)
    ).astype(np.uint8)
    return d.tobytes()


def predictor2_decode(rows: bytes, width: int, spp: int) -> bytes:
    import numpy as np

    a = np.frombuffer(rows, dtype=np.uint8).reshape(-1, width, spp)
    return (
        np.cumsum(a.astype(np.int64), axis=1) % 256
    ).astype(np.uint8).tobytes()


def predictor2_encode16(rows: bytes, width: int, spp: int, le: bool) -> bytes:
    """§14 horizontal differencing on 16-bit samples: the difference
    is taken on whole sample VALUES (mod 65536) in the file's byte
    order, not on bytes."""
    dt = "<u2" if le else ">u2"
    a = np.frombuffer(rows, dtype=dt).reshape(-1, width, spp).astype(
        np.int32
    )
    d = a.copy()
    d[:, 1:, :] = a[:, 1:, :] - a[:, :-1, :]
    return (d % 65536).astype(np.uint16).astype(dt).tobytes()


def predictor2_decode16(rows: bytes, width: int, spp: int, le: bool) -> bytes:
    dt = "<u2" if le else ">u2"
    a = np.frombuffer(rows, dtype=dt).reshape(-1, width, spp)
    return (
        np.cumsum(a.astype(np.int64), axis=1) % 65536
    ).astype(np.uint16).astype(dt).tobytes()


# ---------------------------------------------------------------------------
# Orientation normalization (TIFF/EXIF tag 274) — round 14, late
# ---------------------------------------------------------------------------

def apply_orientation(
    width: int, height: int, rgb: bytes, orientation: int
) -> tuple[int, int, bytes]:
    """Normalize stored pixels to display orientation per the eight
    tag-274 cases (1 identity, 2 flip-H, 3 rotate-180, 4 flip-V,
    5 transpose, 6 rotate-90-CW, 7 transverse, 8 rotate-270-CW).
    Cases 5-8 swap the output dimensions.  → (out_w, out_h, rgb)."""
    import numpy as np

    if orientation not in range(1, 9):
        raise MediaFormatError("orientation outside 1..8")
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    if orientation == 1:
        out = a
    elif orientation == 2:
        out = a[:, ::-1]
    elif orientation == 3:
        out = a[::-1, ::-1]
    elif orientation == 4:
        out = a[::-1, :]
    elif orientation == 5:
        out = a.transpose(1, 0, 2)
    elif orientation == 6:
        # stored row 0 is the scene's RIGHT side → rotate 90° CW
        out = a.transpose(1, 0, 2)[:, ::-1]
    elif orientation == 7:
        out = a.transpose(1, 0, 2)[::-1, ::-1]
    else:  # 8: rotate 270° CW
        out = a.transpose(1, 0, 2)[::-1, :]
    oh, ow = out.shape[:2]
    return ow, oh, np.ascontiguousarray(out).tobytes()


# ---------------------------------------------------------------------------
# JPEG-in-TIFF (Compression 7, "new-style" — TIFF Technical Note 2)
# ---------------------------------------------------------------------------
# Each strip/tile is a complete baseline JPEG interchange stream except
# that shared DQT/DHT tables may live in the JPEGTables tag (347): an
# abbreviated tables-only stream (SOI + table markers + EOI).  Decode
# splices the shared tables ahead of each chunk's own markers and runs
# the production baseline JPEG decoder per chunk.  Old-style
# Compression 6 (the deprecated, never-interoperable §22 layout) stays
# quarantined by name.  Reference surface: the reference delegates all
# image handling to external tooling (SURVEY §0); this implements the
# scanned-document crawl format natively.

TAG_JPEG_TABLES = 347


def _jpeg_strip_segments(stream: bytes):
    """Walk a JPEG stream's marker segments up to SOS → (list of
    (marker, segment_bytes), offset of SOS).  Raises on non-JPEG."""
    if stream[:2] != b"\xff\xd8":
        raise MediaFormatError("TIFF JPEG chunk missing SOI")
    segs = []
    pos = 2
    n = len(stream)
    while pos + 4 <= n:
        if stream[pos] != 0xFF:
            raise MediaFormatError("TIFF JPEG chunk marker desync")
        marker = stream[pos + 1]
        if marker == 0xD9:  # EOI before SOS: tables-only stream
            return segs, pos
        (length,) = struct.unpack(">H", stream[pos + 2 : pos + 4])
        seg = stream[pos : pos + 2 + length]
        if len(seg) != 2 + length:
            raise MediaFormatError("TIFF JPEG chunk segment truncated")
        if marker == 0xDA:  # SOS: entropy data follows
            return segs, pos
        segs.append((marker, seg))
        pos += 2 + length
    raise MediaFormatError("TIFF JPEG chunk has no scan data")


def encode_tiff_jpeg(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 80,
    le: bool = True,
    rows_per_strip: int | None = None,
    tables_mode: bool = True,
) -> bytes:
    """Fixture/production writer for Compression-7 TIFF: the image as
    per-strip baseline JPEG streams (photometric 6, the YCbCr space
    JPEG actually stores), with the shared DQT/DHT tables either
    hoisted into a JPEGTables (347) abbreviated stream
    (``tables_mode=True``, the layout libtiff writes) or repeated
    inline per strip."""
    from reindexer_spark.codecs import encode_jpeg_baseline

    if len(rgb) != width * height * 3:
        raise MediaFormatError("rgb byte count does not match dimensions")
    rps = rows_per_strip or max(1, (height + 1) // 2)
    full_strips = []
    for r in range(0, height, rps):
        rows = min(rps, height - r)
        sub = rgb[r * width * 3 : (r + rows) * width * 3]
        full_strips.append(encode_jpeg_baseline(width, rows, sub, quality))
    if tables_mode:
        segs0, _sos0 = _jpeg_strip_segments(full_strips[0])
        tables = b"".join(s for m, s in segs0 if m in (0xDB, 0xC4))
        tables_stream = b"\xff\xd8" + tables + b"\xff\xd9"
        strips = []
        for fs in full_strips:
            segs, sos = _jpeg_strip_segments(fs)
            kept = b"".join(s for m, s in segs if m not in (0xDB, 0xC4))
            strips.append(b"\xff\xd8" + kept + fs[sos:])
    else:
        strips = full_strips
    n = len(strips)
    tags = [
        (TAG_WIDTH, 3, [width]),
        (TAG_HEIGHT, 3, [height]),
        (TAG_BITS, 3, [8, 8, 8]),
        (TAG_COMPRESSION, 3, [7]),
        (TAG_PHOTOMETRIC, 3, [6]),
        (TAG_SPP, 3, [3]),
        (TAG_PLANAR, 3, [1]),
        (TAG_STRIP_OFFSETS, 4, [0] * n),  # patched below
        (TAG_ROWS_PER_STRIP, 3, [min(rps, 65535)]),
        (TAG_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    if tables_mode:
        tags.append((TAG_JPEG_TABLES, 7, list(tables_stream)))
    block, _offs = _write_ifds(le, [tags])
    return _append_chunks(block, TAG_STRIP_OFFSETS, strips)


def _decode_tiff_jpeg(
    payload: bytes, ent: dict, one, le: bool, w: int, h: int
) -> tuple[int, int, bytes]:
    """Compression-7 decode: per-chunk JPEGTables splice + baseline
    JPEG decode, pasted onto the canvas.  The output contract stays
    8-bit RGB (the JPEG decoder's own YCbCr→RGB for photometric 6,
    gray replication for 0/1)."""
    from reindexer_spark.codecs import decode_jpeg_baseline

    pi = int(one(TAG_PHOTOMETRIC, 6))
    if pi == 2:
        # RGB-space JPEG-in-TIFF would need the color transform
        # suppressed mid-decoder; nothing mainstream writes it
        raise MediaFormatError("RGB-space JPEG-in-TIFF not supported")
    if pi not in (0, 1, 6):
        raise MediaFormatError(
            f"TIFF photometric {pi} with JPEG compression not supported"
        )
    tables = b""
    te = ent.get(TAG_JPEG_TABLES)
    if te is not None:
        raw = bytes(te["values"])
        if len(raw) < 4 or raw[:2] != b"\xff\xd8" or raw[-2:] != b"\xff\xd9":
            raise MediaFormatError("TIFF JPEGTables not an abbreviated stream")
        tables = raw[2:-2]

    def decode_chunk(chunk: bytes, want_w: int, want_h: int) -> np.ndarray:
        if chunk[:2] != b"\xff\xd8":
            raise MediaFormatError("TIFF JPEG chunk missing SOI")
        merged = b"\xff\xd8" + tables + chunk[2:] if tables else chunk
        cw, ch, rgb = decode_jpeg_baseline(merged)
        if cw != want_w or ch != want_h:
            raise MediaFormatError(
                "TIFF JPEG chunk dimensions disagree with the layout"
            )
        return np.frombuffer(rgb, dtype=np.uint8).reshape(ch, cw, 3)

    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    tiled = TAG_TILE_OFFSETS in ent or TAG_TILE_WIDTH in ent
    if tiled:
        for t in (TAG_TILE_WIDTH, TAG_TILE_LENGTH, TAG_TILE_OFFSETS,
                  TAG_TILE_COUNTS):
            if t not in ent:
                raise MediaFormatError("TIFF missing tile tables")
        tw, tl = int(one(TAG_TILE_WIDTH)), int(one(TAG_TILE_LENGTH))
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise MediaFormatError("TIFF tile dims not multiples of 16")
        offsets = ent[TAG_TILE_OFFSETS]["values"]
        counts = ent[TAG_TILE_COUNTS]["values"]
        if not isinstance(offsets, list):
            offsets = [offsets]
        if not isinstance(counts, list):
            counts = [counts]
        ta = (w + tw - 1) // tw
        td = (h + tl - 1) // tl
        if len(offsets) != ta * td or len(counts) != ta * td:
            raise MediaFormatError("TIFF tile tables disagree with grid")
        for tj in range(td):
            for ti in range(ta):
                o = offsets[tj * ta + ti]
                c = counts[tj * ta + ti]
                if not isinstance(o, int) or not isinstance(c, int):
                    raise MediaFormatError("malformed TIFF tile tables")
                if o < 0 or c < 0 or o + c > len(payload):
                    raise MediaFormatError("TIFF tile beyond payload")
                t = decode_chunk(payload[o : o + c], tw, tl)
                rows = min(tl, h - tj * tl)
                cols = min(tw, w - ti * tw)
                canvas[
                    tj * tl : tj * tl + rows, ti * tw : ti * tw + cols
                ] = t[:rows, :cols]
    else:
        if TAG_STRIP_OFFSETS not in ent or TAG_STRIP_COUNTS not in ent:
            raise MediaFormatError("TIFF missing strip tables")
        offsets = ent[TAG_STRIP_OFFSETS]["values"]
        counts = ent[TAG_STRIP_COUNTS]["values"]
        if not isinstance(offsets, list):
            offsets = [offsets]
        if not isinstance(counts, list):
            counts = [counts]
        if len(offsets) != len(counts):
            raise MediaFormatError("TIFF strip tables disagree")
        rps = int(one(TAG_ROWS_PER_STRIP, h))
        if rps <= 0:
            raise MediaFormatError("TIFF rows-per-strip out of range")
        if len(offsets) != (h + rps - 1) // rps:
            raise MediaFormatError("TIFF strips exceed the image height")
        for si, (o, c) in enumerate(zip(offsets, counts)):
            if not isinstance(o, int) or not isinstance(c, int):
                raise MediaFormatError("malformed TIFF strip tables")
            if o < 0 or c < 0 or o + c > len(payload):
                raise MediaFormatError("TIFF strip beyond payload")
            rows = min(rps, h - si * rps)
            t = decode_chunk(payload[o : o + c], w, rows)
            canvas[si * rps : si * rps + rows] = t
    return w, h, canvas.tobytes()


# ---------------------------------------------------------------------------
# CCITT Group 4 in TIFF (Compression 4 — round 16)
# ---------------------------------------------------------------------------

TAG_T4_OPTIONS = 292
TAG_T6_OPTIONS = 293
TAG_FILLORDER = 266


def _decode_tiff_g4(
    payload: bytes, ent: dict, one, le: bool, w: int, h: int,
    comp: int = 4,
) -> tuple[int, int, bytes]:
    """Bilevel CCITT decode: per-strip T.6 streams (Compression 4),
    EOL-framed Group-3 lines (Compression 3 — T4Options bit 0 turns
    on the per-line 1-D/2-D tag), or 1-D Modified-Huffman rows
    (Compression 2) through ccitt.py; each strip restarts fresh.
    Honors FillOrder 1/2 and both bilevel photometrics.  The
    uncompressed-mode option bit quarantines in either options tag
    (nothing mainstream writes it)."""
    import functools

    import numpy as np

    from reindexer_spark.ccitt import g3_decode, g4_decode, mh_decode

    if comp == 4:
        decoder = g4_decode
    elif comp == 2:
        decoder = mh_decode
    else:
        t4 = int(one(TAG_T4_OPTIONS, 0))
        if t4 & 0x02:
            raise MediaFormatError(
                "T.4 uncompressed mode (T4Options bit 1) not supported"
            )
        # bit 2 (fill bits before EOL) needs no special handling —
        # the EOL scan consumes any fill zeros
        decoder = functools.partial(g3_decode, two_d=bool(t4 & 0x01))

    bits = ent.get(TAG_BITS, {"values": [1]})["values"]
    if not isinstance(bits, list):
        bits = [bits]
    if bits and int(bits[0]) != 1:
        raise MediaFormatError("CCITT G4 TIFF must be 1 bit/sample")
    if int(one(TAG_SPP, 1)) != 1:
        raise MediaFormatError("CCITT G4 TIFF must be 1 sample/pixel")
    pi = int(one(TAG_PHOTOMETRIC, 0))
    if pi not in (0, 1):
        raise MediaFormatError(
            "CCITT G4 TIFF needs a bilevel photometric (0/1)"
        )
    t6 = int(one(TAG_T6_OPTIONS, 0))
    if t6 & 0x02:
        raise MediaFormatError(
            "T.6 uncompressed mode (T6Options bit 1) not supported"
        )
    fillorder = int(one(TAG_FILLORDER, 1))
    if TAG_STRIP_OFFSETS not in ent or TAG_STRIP_COUNTS not in ent:
        raise MediaFormatError("TIFF missing strip tables")
    offsets = ent[TAG_STRIP_OFFSETS]["values"]
    counts = ent[TAG_STRIP_COUNTS]["values"]
    if not isinstance(offsets, list):
        offsets = [offsets]
    if not isinstance(counts, list):
        counts = [counts]
    if len(offsets) != len(counts):
        raise MediaFormatError("TIFF strip tables disagree")
    rps = int(one(TAG_ROWS_PER_STRIP, h))
    if rps <= 0:
        raise MediaFormatError("TIFF rows-per-strip out of range")
    if len(offsets) != (h + rps - 1) // rps:
        raise MediaFormatError("TIFF strips exceed the image height")
    px = bytearray()
    for si, (o, c) in enumerate(zip(offsets, counts)):
        if not isinstance(o, int) or not isinstance(c, int):
            raise MediaFormatError("malformed TIFF strip tables")
        if o < 0 or c < 0 or o + c > len(payload):
            raise MediaFormatError("TIFF strip beyond payload")
        rows = min(rps, h - si * rps)
        px += decoder(payload[o : o + c], w, rows, fillorder=fillorder)
    a = np.frombuffer(bytes(px), dtype=np.uint8)
    # bit 1 = black; photometric 0 (WhiteIsZero) is the natural fax
    # orientation, photometric 1 inverts
    if pi == 0:
        gray = (1 - a) * np.uint8(255)
    else:
        gray = a * np.uint8(255)
    return w, h, np.repeat(gray, 3).tobytes()


def encode_tiff_g4(
    width: int,
    height: int,
    bits,
    le: bool = True,
    rows_per_strip: int | None = None,
    fillorder: int = 1,
    photometric: int = 0,
    with_eofb: bool = False,
    compression: int = 4,
    t4_2d: bool = False,
) -> bytes:
    """Fixture/production writer for bilevel CCITT TIFF: row-major
    pixels (1 = black) as per-strip T.6 streams (``compression=4``,
    the default), EOL-framed Group-3 lines (``compression=3`` —
    ``t4_2d`` adds the 2-D tag layer and writes T4Options bit 0), or
    1-D Modified-Huffman rows (``compression=2``)."""
    from reindexer_spark.ccitt import g3_encode, g4_encode, mh_encode

    if compression not in (2, 3, 4):
        raise MediaFormatError("bilevel write compression must be 2, 3 or 4")
    if len(bits) != width * height:
        raise MediaFormatError("CCITT pixel count mismatch")
    rps = rows_per_strip or max(1, (height + 1) // 2)
    strips = []
    for r in range(0, height, rps):
        rows = min(rps, height - r)
        seg = bits[r * width : (r + rows) * width]
        if compression == 4:
            strips.append(
                g4_encode(seg, width, rows, fillorder=fillorder,
                          with_eofb=with_eofb)
            )
        elif compression == 3:
            strips.append(
                g3_encode(seg, width, rows, two_d=t4_2d,
                          fillorder=fillorder)
            )
        else:
            strips.append(
                mh_encode(seg, width, rows, fillorder=fillorder)
            )
    n = len(strips)
    tags = [
        (TAG_WIDTH, 3, [width]),
        (TAG_HEIGHT, 3, [height]),
        (TAG_BITS, 3, [1]),
        (TAG_COMPRESSION, 3, [compression]),
        (TAG_PHOTOMETRIC, 3, [photometric]),
        (TAG_SPP, 3, [1]),
        (TAG_PLANAR, 3, [1]),
        (TAG_FILLORDER, 3, [fillorder]),
        (TAG_T4_OPTIONS if compression == 3 else TAG_T6_OPTIONS, 4,
         [1 if (compression == 3 and t4_2d) else 0]),
        (TAG_STRIP_OFFSETS, 4, [0] * n),  # patched below
        (TAG_ROWS_PER_STRIP, 3, [min(rps, 65535)]),
        (TAG_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    block, _offs = _write_ifds(le, [tags])
    return _append_chunks(block, TAG_STRIP_OFFSETS, strips)


# ---------------------------------------------------------------------------
# Variant table: the one map from a TIFF shape's name to the writer call
# ---------------------------------------------------------------------------

# (name, compression, predictor) of the four lossless strip/tile codecs
_LOSSLESS = (("none", 1, 1), ("lzw", 5, 2), ("packbits", 32773, 1),
             ("deflate", 8, 2))


def _tiff_variants() -> dict[str, tuple]:
    """name → (writer, kwargs, pixels, fault).  The writer is called as
    ``writer(width, height, data, **kwargs)`` plus the fixture's
    geometry; ``pixels`` names what ``data`` is: "chain" (8-bit RGB,
    8-bit gray as r=g=b RGB, or 16-bit samples in the file's byte
    order), "palette" (8-bit indices; the fixture adds ``colormap``) or
    "page" (bilevel, 1 = black); ``patch_entry(payload, *fault)`` makes
    decode refuse while probe_tiff still reads the dims."""
    out: dict[str, tuple] = {}
    for i, (cname, comp, pred) in enumerate(_LOSSLESS):
        codec = {"compression": comp, "predictor": pred}
        # 8-bit strips: II on none/packbits, MM on lzw/deflate
        order = "ii" if i % 2 == 0 else "mm"
        for gray in (False, True):
            out[f"strips-{'gray' if gray else 'rgb'}8-{order}-{cname}"] = (
                encode_tiff, {"le": i % 2 == 0, "gray": gray, **codec},
                "chain", (TAG_COMPRESSION, [2]),
            )
        if pred == 2:
            # 16-bit strips: Predictor 2 differences whole samples in
            # the file's byte order (II on lzw, MM on deflate)
            out[f"strips-rgb16-{'ii' if i == 1 else 'mm'}-{cname}"] = (
                encode_tiff, {"le": i == 1, "bits": 16, **codec},
                "chain", (TAG_COMPRESSION, [2]),
            )
        # tiles and planar strips: 16-bit samples on none/packbits
        bits = 16 if i % 2 == 0 else 8
        for le in (True, False):
            tail = f"rgb{bits}-{'ii' if le else 'mm'}-{cname}"
            out[f"tiles-{tail}"] = (
                encode_tiff,
                {"le": le, "bits": bits, "tile": (16, 16), **codec},
                "chain", (TAG_TILE_WIDTH, [20]),
            )
            out[f"planar-{tail}"] = (
                encode_tiff, {"le": le, "bits": bits, "planar": 2, **codec},
                "chain", (TAG_PLANAR, [1]),
            )
        out[f"palette-ii-{cname}"] = (
            encode_tiff_palette, {"compression": comp},
            "palette", (TAG_COLORMAP, None, 300),
        )
    for mode in ("tables", "inline"):
        out[f"jpeg-{mode}"] = (
            encode_tiff_jpeg, {"tables_mode": mode == "tables"},
            "chain", (TAG_COMPRESSION, [6]),
        )
    for fillorder, fname in ((1, "msb"), (2, "lsb")):
        page = {"fillorder": fillorder}
        out[f"g4-{fname}"] = (
            encode_tiff_g4, {"compression": 4, **page},
            "page", (TAG_COMPRESSION, [3]),
        )
        out[f"mh-{fname}"] = (
            encode_tiff_g4, {"compression": 2, **page},
            "page", (TAG_COMPRESSION, [3]),
        )
        out[f"g3-{'2d' if fillorder == 1 else '1d'}-{fname}"] = (
            encode_tiff_g4,
            {"compression": 3, "t4_2d": fillorder == 1, **page},
            "page", (TAG_T4_OPTIONS, [2]),
        )
    return out


TIFF_VARIANTS = _tiff_variants()
