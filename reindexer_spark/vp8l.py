"""WebP lossless (VP8L) codec — decoder for the full bitstream surface
plus a minimal spec-legal encoder for fixtures (round-11 VERDICT next
#4: WebP was the probe-only gap on the most common modern crawl image
format after JPEG/PNG).

Implemented from the public WebP Lossless Bitstream Specification
(RFC 9649 §3): LSB-first bit packing; canonical prefix codes
transmitted either as 1-2-symbol "simple" codes or through the
code-length code (order [17,18,0..16], repeat codes 16/17/18, the
optional max_symbol short-circuit); five prefix codes per meta group
(green+length+cache, red, blue, alpha, distance); an optional color
cache (multiplier 0x1e35a7bd); LZ77 backward references whose first
120 distance codes map to a 2D neighbourhood; an optional meta-prefix
image; and the four transforms — PREDICTOR (14 modes), COLOR
(signed (t*c)>>5 cross-channel deltas), SUBTRACT_GREEN and
COLOR_INDEXING (incl. sub-byte packed indices) — inverted in reverse
transmission order.

Fidelity notes (best-effort corners, each marked in place): the 2D
distance map is GENERATED by the ordering rule the spec's static
table follows (d² ascending, then larger y, then |x|, then +x before
-x — reproduces every published fragment checked); the rightmost
column's top-right neighbour wraps to the leftmost pixel of the same
row; ClampAddSubtractHalf divides toward zero.  The roundtrip and
directed-bitstream tests pin the implementation against hand-computed
pixels; external-stream fidelity shares their confidence.

The encoder is deliberately minimal — no transforms (or SUBTRACT_GREEN
on request), no LZ77, no cache, one prefix group, literal-only 8-bit
canonical codes, a 1-symbol simple code for constant alpha — every
byte still spec-legal, so the decode gate round-trips losslessly.

Reference parity note: /root/reference has no media layer; this module
serves the LLM-pipeline multimodal surface (SURVEY.md §2 C12)."""

from __future__ import annotations

import struct

from reindexer_spark.codecs import MediaFormatError

# ---------------------------------------------------------------------------
# bit I/O (LSB-first within each byte, DEFLATE-style)
# ---------------------------------------------------------------------------


class _LsbReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def bits(self, n: int) -> int:
        # round 14: one little-endian gather instead of a Python loop
        # per BIT — same truncation condition (the last accessed bit's
        # byte must exist; n=0 never touches the stream)
        pos = self.pos
        end = pos + n
        data = self.data
        if n and (end - 1) >> 3 >= len(data):
            raise MediaFormatError("truncated VP8L stream")
        chunk = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "little")
        self.pos = end
        return (chunk >> (pos & 7)) & ((1 << n) - 1)


class _LsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def code(self, code: int, length: int) -> None:
        """Prefix codes are read MSB-of-code-first — emit accordingly."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------


class _Prefix:
    """Canonical prefix decoder: DEFLATE-style code assignment (sorted
    by (length, symbol)), decoded bit-at-a-time MSB-first."""

    __slots__ = ("table", "single", "lut")

    def __init__(self, lengths: list[int], single: int | None = None):
        self.single = single  # 0-bit tree: always this symbol
        self.table: dict[tuple[int, int], int] = {}
        self.lut: list | None = None
        if single is not None:
            return
        pairs = sorted(
            (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
        )
        if not pairs:
            raise MediaFormatError("empty VP8L prefix code")
        if len(pairs) == 1:
            self.single = pairs[0][1]
            return
        code = 0
        prev_len = pairs[0][0]
        kraft = 0
        for ln, sym in pairs:
            code <<= ln - prev_len
            prev_len = ln
            if ln > 15:
                raise MediaFormatError("VP8L code length > 15")
            self.table[(ln, code)] = sym
            kraft += 1 << (15 - ln)
            code += 1
        if kraft > (1 << 15):
            raise MediaFormatError("over-subscribed VP8L prefix code")
        # round 14: 8-bit first-level LUT over the RAW (LSB-first)
        # next byte of the stream — one index resolves codes up to 8
        # bits (the overwhelming majority); longer codes walk the map
        lut: list = [None] * 256
        tget = self.table.get
        for raw in range(256):
            code = 0
            for i in range(8):
                code = (code << 1) | ((raw >> i) & 1)
                sym = tget((i + 1, code))
                if sym is not None:
                    lut[raw] = (sym, i + 1)
                    break
        self.lut = lut

    def read(self, r: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        pos = r.pos
        data = r.data
        e = self.lut[
            (
                int.from_bytes(data[pos >> 3 : (pos >> 3) + 2], "little")
                >> (pos & 7)
            )
            & 0xFF
        ]
        if e is not None and (pos + e[1] - 1) >> 3 < len(data):
            r.pos = pos + e[1]
            return e[0]
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | r.bits(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise MediaFormatError("invalid VP8L prefix code word")


_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)


def _read_prefix_code(r: _LsbReader, alphabet_size: int) -> _Prefix:
    if r.bits(1):  # simple code (1 or 2 symbols)
        n_sym = r.bits(1) + 1
        if r.bits(1):  # first symbol in 8 bits
            s0 = r.bits(8)
        else:
            s0 = r.bits(1)
        if s0 >= alphabet_size:
            raise MediaFormatError("VP8L simple-code symbol out of range")
        if n_sym == 1:
            return _Prefix([], single=s0)
        s1 = r.bits(8)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size or s1 >= alphabet_size:
            raise MediaFormatError("VP8L simple-code symbol out of range")
        lengths[s0] = 1
        lengths[s1] = 1
        return _Prefix(lengths)
    # full code: code lengths are themselves prefix-coded
    n_clc = 4 + r.bits(4)
    clc_lengths = [0] * 19
    for i in range(n_clc):
        clc_lengths[_CLC_ORDER[i]] = r.bits(3)
    clc = _Prefix(clc_lengths)
    if r.bits(1):  # use_max_symbol
        length_nbits = 2 + 2 * r.bits(3)
        max_symbol = 2 + r.bits(length_nbits)
        if max_symbol > alphabet_size:
            raise MediaFormatError("VP8L max_symbol beyond alphabet")
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8  # spec: repeats of a leading 16 copy length 8
    sym = 0
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        code = clc.read(r)
        if code < 16:
            lengths[sym] = code
            sym += 1
            if code:
                prev_len = code
        elif code == 16:
            rep = 3 + r.bits(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise MediaFormatError("VP8L repeat overruns alphabet")
                lengths[sym] = prev_len
                sym += 1
        elif code == 17:
            sym += 3 + r.bits(3)
        else:  # 18
            sym += 11 + r.bits(7)
        if sym > alphabet_size:
            raise MediaFormatError("VP8L repeat overruns alphabet")
    return _Prefix(lengths)


# ---------------------------------------------------------------------------
# LZ77 helpers
# ---------------------------------------------------------------------------


def _lz77_value(r: _LsbReader, code: int) -> int:
    """Length/distance prefix scheme: codes 0-3 literal, then
    (2 + (code&1)) << extra  +  extra bits  + 1."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.bits(extra) + 1


def _gen_dist_map() -> list[tuple[int, int]]:
    """The 120-entry 2D distance map, generated by the spec table's
    ordering rule: d² ascending, then larger y first, then smaller
    |x|, then +x before -x (verified against every published fragment
    — see module docstring)."""
    cand = []
    # Domain is exactly libwebp's plane_to_code_lut: 8 rows (y in
    # [0,7]) x 16 columns with xoffset = 8 - (code & 0xF), i.e. x in
    # [-7, 8]; the y == 0 row only has x in [1, 8].  8 + 7*16 = 120
    # candidates, so the sort is total (no truncation choice).
    for y in range(0, 8):
        for x in range(-7, 9):
            if y == 0 and x <= 0:
                continue
            cand.append((x, y))
    cand.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], abs(p[0]),
                             0 if p[0] > 0 else 1))
    assert len(cand) == 120
    return cand


_DIST_MAP = _gen_dist_map()


# ---------------------------------------------------------------------------
# entropy-coded image (shared by main image, transform data, meta image)
# ---------------------------------------------------------------------------


def _read_group(r: _LsbReader, cache_size: int) -> tuple:
    g = _read_prefix_code(r, 256 + 24 + cache_size)
    red = _read_prefix_code(r, 256)
    blue = _read_prefix_code(r, 256)
    alpha = _read_prefix_code(r, 256)
    dist = _read_prefix_code(r, 40)
    return (g, red, blue, alpha, dist)


def _decode_entropy_image(
    r: _LsbReader, w: int, h: int, allow_meta: bool = False,
) -> list[int]:
    """Returns w*h ARGB pixels (ints)."""
    cache_bits = 0
    if r.bits(1):
        cache_bits = r.bits(4)
        if not 1 <= cache_bits <= 11:
            raise MediaFormatError("VP8L color-cache bits out of range")
    cache_size = (1 << cache_bits) if cache_bits else 0
    meta: list[int] | None = None
    meta_bs = 0
    n_groups = 1
    if allow_meta and r.bits(1):
        meta_bits = 2 + r.bits(3)
        meta_bs = meta_bits
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_entropy_image(r, mw, mh)
        n_groups = 1 + max(
            ((p >> 8) & 0xFFFF) for p in meta
        )
    groups = [_read_group(r, cache_size) for _ in range(n_groups)]
    cache = [0] * cache_size
    out = [0] * (w * h)
    pos = 0
    n = w * h
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            mp = meta[(y >> meta_bs) * ((w + (1 << meta_bs) - 1)
                                        >> meta_bs) + (x >> meta_bs)]
            grp = groups[(mp >> 8) & 0xFFFF]
        else:
            grp = groups[0]
        gcode, redc, bluec, alphac, distc = grp
        s = gcode.read(r)
        if s < 256:  # literal pixel
            green = s
            red = redc.read(r)
            blue = bluec.read(r)
            alpha = alphac.read(r)
            px = (alpha << 24) | (red << 16) | (green << 8) | blue
            out[pos] = px
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _lz77_value(r, s - 256)
            dcode = distc.read(r)
            dist_val = _lz77_value(r, dcode)
            if dist_val > 120:
                dist = dist_val - 120
            else:
                dx, dy = _DIST_MAP[dist_val - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise MediaFormatError("VP8L backward reference out of range")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += 1
            continue  # cache inserts handled in the copy loop
        else:  # color-cache hit
            idx = s - 280
            if idx >= cache_size:
                raise MediaFormatError("VP8L cache index out of range")
            px = cache[idx]
            out[pos] = px
            pos += 1
        if cache_size:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
    return out


# ---------------------------------------------------------------------------
# transforms (inverse)
# ---------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _px_avg2(a: int, b: int) -> int:
    return (
        (_avg2(a >> 24, b >> 24) << 24)
        | (_avg2((a >> 16) & 0xFF, (b >> 16) & 0xFF) << 16)
        | (_avg2((a >> 8) & 0xFF, (b >> 8) & 0xFF) << 8)
        | _avg2(a & 0xFF, b & 0xFF)
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _trunc_half(v: int) -> int:
    """C-style integer division by 2 (truncates toward zero)."""
    return -((-v) >> 1) if v < 0 else v >> 1


def _select(left: int, top: int, tl: int) -> int:
    pa = pb = 0
    for sh in (24, 16, 8, 0):
        lc = (left >> sh) & 0xFF
        tc = (top >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = lc + tc - tlc
        pa += abs(p - lc)  # distance to left
        pb += abs(p - tc)  # distance to top
    return left if pa <= pb else top


def _clamp_add_sub_full(left: int, top: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)
                   - ((tl >> sh) & 0xFF))
        out |= c << sh
    return out


def _clamp_add_sub_half(left: int, top: int, tl: int) -> int:
    ave = _px_avg2(left, top)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        out |= _clamp(a + _trunc_half(a - b)) << sh
    return out


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _px_avg2(_px_avg2(left, tr), top)
    if mode == 6:
        return _px_avg2(left, tl)
    if mode == 7:
        return _px_avg2(left, top)
    if mode == 8:
        return _px_avg2(tl, top)
    if mode == 9:
        return _px_avg2(top, tr)
    if mode == 10:
        return _px_avg2(_px_avg2(left, tl), _px_avg2(top, tr))
    if mode == 11:
        return _select(left, top, tl)
    if mode == 12:
        return _clamp_add_sub_full(left, top, tl)
    if mode == 13:
        return _clamp_add_sub_half(left, top, tl)
    raise MediaFormatError("invalid VP8L predictor mode")


def _add_px(a: int, b: int) -> int:
    """Per-channel modular addition of two ARGB pixels."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _inv_predictor(px: list[int], w: int, h: int, bs: int,
                   modes: list[int]) -> None:
    mw = (w + (1 << bs) - 1) >> bs
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]  # row 0: forced L
            elif x == 0:
                pred = px[i - w]  # column 0: forced T
            else:
                mode = (modes[(y >> bs) * mw + (x >> bs)] >> 8) & 0xFF
                left = px[i - 1]
                top = px[i - w]
                tl = px[i - w - 1]
                # rightmost column: TR wraps to the leftmost pixel of
                # the same row (best-effort corner, module docstring)
                tr = px[i - w + 1] if x + 1 < w else px[y * w]
                pred = _predict(mode, left, top, tl, tr)
            px[i] = _add_px(px[i], pred)


def _cdelta(t: int, c: int) -> int:
    """Signed color-transform delta: (int8(t) * int8(c)) >> 5."""
    ts = t - 256 if t > 127 else t
    cs = c - 256 if c > 127 else c
    return (ts * cs) >> 5


def _inv_color_transform(px: list[int], w: int, h: int, bs: int,
                         elems: list[int]) -> None:
    mw = (w + (1 << bs) - 1) >> bs
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = elems[(y >> bs) * mw + (x >> bs)]
            g2r = e & 0xFF            # blue channel
            g2b = (e >> 8) & 0xFF     # green channel
            r2b = (e >> 16) & 0xFF    # red channel
            p = px[i]
            a = p >> 24
            r = (p >> 16) & 0xFF
            g = (p >> 8) & 0xFF
            b = p & 0xFF
            r = (r + _cdelta(g2r, g)) & 0xFF
            b = (b + _cdelta(g2b, g) + _cdelta(r2b, r)) & 0xFF
            px[i] = (a << 24) | (r << 16) | (g << 8) | b


def _inv_subtract_green(px: list[int]) -> None:
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        px[i] = (p & 0xFF000000) | (r << 16) | (g << 8) | b


def _inv_color_indexing(
    px: list[int], w: int, h: int, packed_w: int, wb: int,
    palette: list[int],
) -> list[int]:
    if wb == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out
    per = 1 << wb
    bits_pp = 8 >> wb
    mask = (1 << bits_pp) - 1
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            packed = px[y * packed_w + (x >> wb)]
            idx = ((packed >> 8) & 0xFF) >> (bits_pp * (x & (per - 1)))
            idx &= mask
            out[y * w + x] = palette[idx] if idx < len(palette) else 0
    return out


# ---------------------------------------------------------------------------
# top-level decode
# ---------------------------------------------------------------------------


def decode_vp8l(body: bytes, rgba: bool = False) -> tuple[int, int, bytes]:
    """VP8L chunk body → (width, height, RGB bytes).  Alpha is decoded
    and dropped (the pipeline's image features are RGB) unless
    ``rgba`` is set — the animation compositor (round 16) needs it
    for the ANMF alpha-blend path."""
    if not body or body[0] != 0x2F:
        raise MediaFormatError("VP8L signature missing")
    r = _LsbReader(body[1:])
    w = r.bits(14) + 1
    h = r.bits(14) + 1
    r.bits(1)  # alpha hint
    if r.bits(3) != 0:
        raise MediaFormatError("unknown VP8L version")
    transforms: list[tuple] = []
    seen = set()
    cur_w = w
    wb = 0
    while r.bits(1):
        ttype = r.bits(2)
        if ttype in seen:
            raise MediaFormatError("VP8L transform repeated")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bs = 2 + r.bits(3)
            mw = (cur_w + (1 << bs) - 1) >> bs
            mh = (h + (1 << bs) - 1) >> bs
            modes = _decode_entropy_image(r, mw, mh)
            transforms.append(("pred", bs, modes))
        elif ttype == 1:  # color transform
            bs = 2 + r.bits(3)
            mw = (cur_w + (1 << bs) - 1) >> bs
            mh = (h + (1 << bs) - 1) >> bs
            elems = _decode_entropy_image(r, mw, mh)
            transforms.append(("color", bs, elems))
        elif ttype == 2:
            transforms.append(("subgreen",))
        else:  # color indexing
            n_colors = 1 + r.bits(8)
            pal_deltas = _decode_entropy_image(r, n_colors, 1)
            palette = []
            acc = 0
            for d in pal_deltas:
                acc = _add_px(acc, d)
                palette.append(acc)
            if n_colors <= 2:
                wb = 3
            elif n_colors <= 4:
                wb = 2
            elif n_colors <= 16:
                wb = 1
            else:
                wb = 0
            packed_w = (cur_w + (1 << wb) - 1) >> wb
            transforms.append(("index", cur_w, packed_w, wb, palette))
            cur_w = packed_w
    px = _decode_entropy_image(r, cur_w, h, allow_meta=True)
    for t in reversed(transforms):
        if t[0] == "index":
            _, full_w, packed_w, wb, palette = t
            px = _inv_color_indexing(px, full_w, h, packed_w, wb, palette)
            cur_w = full_w
        elif t[0] == "subgreen":
            _inv_subtract_green(px)
        elif t[0] == "color":
            _inv_color_transform(px, cur_w, h, t[1], t[2])
        else:
            _inv_predictor(px, cur_w, h, t[1], t[2])
    if rgba:
        out = bytearray(w * h * 4)
        for i, p in enumerate(px):
            out[4 * i] = (p >> 16) & 0xFF
            out[4 * i + 1] = (p >> 8) & 0xFF
            out[4 * i + 2] = p & 0xFF
            out[4 * i + 3] = (p >> 24) & 0xFF
        return w, h, bytes(out)
    rgb = bytearray(w * h * 3)
    for i, p in enumerate(px):
        rgb[3 * i] = (p >> 16) & 0xFF
        rgb[3 * i + 1] = (p >> 8) & 0xFF
        rgb[3 * i + 2] = p & 0xFF
    return w, h, bytes(rgb)


def decode_webp_lossless(payload: bytes) -> tuple[int, int, bytes]:
    """RIFF WEBP container → (w, h, RGB) for VP8L payloads — bare, or
    inside a STILL extended (VP8X) layout (round 16: the shape cwebp
    writes when EXIF/ICC/alpha metadata rides along; the VP8X canvas
    dims must agree with the VP8L stream's).  VP8-lossy is probe-only:
    its decode quarantines here.  ANIMATED files route through
    decode_webp_anim (raised here by name)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise MediaFormatError("not a WebP payload")
    cpos = 12
    canvas = None
    while cpos + 8 <= len(payload):
        cid = payload[cpos : cpos + 4]
        size = struct.unpack_from("<I", payload, cpos + 4)[0]
        body = cpos + 8
        if body + size > len(payload):
            raise MediaFormatError("truncated WebP chunk")
        if cid == b"VP8L":
            w, h, rgb = decode_vp8l(payload[body : body + size])
            if canvas is not None and canvas != (w, h):
                raise MediaFormatError(
                    "VP8X canvas dims disagree with the VP8L stream"
                )
            return w, h, rgb
        if cid == b"VP8X":
            chunk = payload[body : body + size]
            if len(chunk) < 10:
                raise MediaFormatError("truncated VP8X header")
            if chunk[0] & 0x02:
                raise MediaFormatError(
                    "animated WebP decodes via decode_webp_anim"
                )
            canvas = (
                int.from_bytes(chunk[4:7], "little") + 1,
                int.from_bytes(chunk[7:10], "little") + 1,
            )
        elif cid == b"VP8 ":
            raise MediaFormatError(
                "WebP VP8-lossy layouts are probe-only "
                "(VP8L lossless decodes)"
            )
        cpos = body + size + (size & 1)
    raise MediaFormatError("WebP carries no VP8L chunk")


# ---------------------------------------------------------------------------
# minimal encoder (fixtures; spec-legal, literal-only)
# ---------------------------------------------------------------------------


def _write_full_8bit_code(w: _LsbWriter, n_used: int, n_zero_tail: int):
    """Transmit a canonical code of ``n_used`` consecutive 8-bit
    symbols (codes = symbol index) followed by ``n_zero_tail`` unused
    symbols, via the code-length code."""
    w.bits(0, 1)  # not simple
    w.bits(15, 4)  # num_code_lengths = 19 (transmit the whole order)
    # clc lengths: used codes get 2 bits each ({8, 16, 17, 18} — a
    # complete 2-bit code), everything else 0
    used = {8: 2, 16: 2, 17: 2, 18: 2}
    for c in _CLC_ORDER:
        w.bits(used.get(c, 0), 3)
    w.bits(0, 1)  # no max_symbol
    # canonical 2-bit codes sorted by symbol: 8→00, 16→01, 17→10, 18→11
    cw = {8: 0, 16: 1, 17: 2, 18: 3}

    def emit(sym: int) -> None:
        w.code(cw[sym], 2)

    emit(8)  # first symbol: length 8 (also seeds the repeat value)
    remaining = n_used - 1
    while remaining > 0:
        rep = min(6, remaining)
        if rep < 3:
            for _ in range(rep):
                emit(8)
            remaining = 0
        else:
            emit(16)
            w.bits(rep - 3, 2)
            remaining -= rep
    z = n_zero_tail
    while z > 0:
        if z >= 11:
            rep = min(138, z)
            emit(18)
            w.bits(rep - 11, 7)
            z -= rep
        elif z >= 3:
            emit(17)
            w.bits(z - 3, 3)
            z -= z
        else:
            emit(8)  # can't happen for our alphabets (tails ≥ 24 or 0)
            z -= 1


def _write_single_symbol(w: _LsbWriter, sym: int) -> None:
    w.bits(1, 1)  # simple
    w.bits(0, 1)  # one symbol
    if sym < 2:
        w.bits(0, 1)
        w.bits(sym, 1)
    else:
        w.bits(1, 1)
        w.bits(sym, 8)


def encode_vp8l(
    width: int, height: int, rgb: bytes, subtract_green: bool = False,
    alpha: bytes | None = None,
) -> bytes:
    """(w, h, RGB bytes) → a spec-legal VP8L chunk body: literal-only
    pixels under full 8-bit canonical codes, constant-alpha simple
    code, optional SUBTRACT_GREEN for transform coverage.  Lossless —
    decode_vp8l returns the input bytes exactly.  ``alpha`` (round 16,
    one byte per pixel) switches the alpha channel to a full 8-bit
    code and sets the header's alpha hint — the animated-WebP
    blend-path fixtures need real per-pixel alpha."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length mismatch")
    if alpha is not None and len(alpha) != width * height:
        raise ValueError("alpha length mismatch")
    if not (1 <= width <= 1 << 14 and 1 <= height <= 1 << 14):
        raise ValueError("VP8L dims out of range")
    w = _LsbWriter()
    w.bits(width - 1, 14)
    w.bits(height - 1, 14)
    w.bits(1 if alpha is not None else 0, 1)  # alpha hint
    w.bits(0, 3)  # version
    if subtract_green:
        w.bits(1, 1)
        w.bits(2, 2)  # transform type 2
    w.bits(0, 1)  # no (more) transforms
    w.bits(0, 1)  # no color cache
    w.bits(0, 1)  # no meta prefix
    _write_full_8bit_code(w, 256, 24)  # green (+24 unused length codes)
    _write_full_8bit_code(w, 256, 0)   # red
    _write_full_8bit_code(w, 256, 0)   # blue
    if alpha is not None:
        _write_full_8bit_code(w, 256, 0)  # alpha: real per-pixel code
    else:
        _write_single_symbol(w, 255)   # alpha: constant 255, 0-bit code
    _write_single_symbol(w, 0)         # distance: unused
    for i in range(width * height):
        r = rgb[3 * i]
        g = rgb[3 * i + 1]
        b = rgb[3 * i + 2]
        if subtract_green:
            r = (r - g) & 0xFF
            b = (b - g) & 0xFF
        w.code(g, 8)
        w.code(r, 8)
        w.code(b, 8)
        if alpha is not None:
            w.code(alpha[i], 8)
        # else alpha: zero bits
    return b"\x2f" + w.finish()


def encode_webp_lossless(
    width: int, height: int, rgb: bytes, subtract_green: bool = False,
) -> bytes:
    """Full RIFF WEBP file around an encode_vp8l chunk."""
    body = encode_vp8l(width, height, rgb, subtract_green=subtract_green)
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------------
# Animated WebP (round 16): VP8X + ANIM + ANMF over REAL VP8L frames
# ---------------------------------------------------------------------------
# Container layout per the public WebP container spec: VP8X flags byte
# (ANIM = 0x02, ALPHA = 0x10), 24-bit canvas dims minus one; ANIM
# carries the background color (B,G,R,A byte order) and loop count;
# each ANMF is a 16-byte header (x/2, y/2, w-1, h-1 as 24-bit LEs,
# 24-bit duration ms, flags byte: bit1 = DO-NOT-blend, bit0 = dispose
# to background) followed by the subframe bitstream chunk.  The
# compositor mirrors the GIF89a one (codecs.decode_gif): the output
# contract is composited RGB frames over an OPAQUE canvas initialized
# to the ANIM background color; alpha-blending uses the integer
# src-over rule (c*a + d*(255-a) + 127) // 255.  Lossy (VP8) or
# ALPH-assisted subframes quarantine — only the real VP8L decode
# feeds pixels (VP8-lossy is probe-only; decode quarantines).


def _le24(v: int) -> bytes:
    return int(v).to_bytes(3, "little")


def encode_webp_anim(
    canvas_w: int,
    canvas_h: int,
    frames: list[dict],
    bg_rgb: tuple[int, int, int] = (0, 0, 0),
    loop: int = 0,
) -> bytes:
    """Animated-WebP writer over REAL VP8L subframes.  Each frame
    dict: ``x``/``y`` (even canvas offsets), ``w``/``h``, ``rgb``
    (w*h*3 bytes), optional ``alpha`` (w*h bytes — real per-pixel
    alpha for the blend path), ``duration_ms``, ``blend`` (True =
    alpha-blend onto the canvas, False = overwrite), ``dispose``
    (True = restore background over the rect afterwards)."""
    if not frames:
        raise MediaFormatError("animated WebP needs at least one frame")
    has_alpha = any(f.get("alpha") is not None for f in frames)
    flags = 0x02 | (0x10 if has_alpha else 0)
    vp8x = (
        bytes([flags, 0, 0, 0])
        + _le24(canvas_w - 1)
        + _le24(canvas_h - 1)
    )
    anim = (
        bytes([bg_rgb[2], bg_rgb[1], bg_rgb[0], 0xFF])
        + struct.pack("<H", loop)
    )

    def riff(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    chunks = riff(b"VP8X", vp8x) + riff(b"ANIM", anim)
    for f in frames:
        x, y, w, h = f["x"], f["y"], f["w"], f["h"]
        if x % 2 or y % 2:
            raise MediaFormatError("ANMF frame offsets must be even")
        if x < 0 or y < 0 or x + w > canvas_w or y + h > canvas_h:
            raise MediaFormatError("ANMF frame outside the canvas")
        body = encode_vp8l(w, h, f["rgb"], alpha=f.get("alpha"))
        fl = (0 if f.get("blend", False) else 0x02) | (
            0x01 if f.get("dispose", False) else 0
        )
        anmf = (
            _le24(x // 2)
            + _le24(y // 2)
            + _le24(w - 1)
            + _le24(h - 1)
            + _le24(int(f.get("duration_ms", 100)))
            + bytes([fl])
            + riff(b"VP8L", body)
        )
        chunks += riff(b"ANMF", anmf)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + len(chunks))
        + b"WEBP"
        + chunks
    )


def decode_webp_anim(
    payload: bytes,
) -> tuple[int, int, list[int], list[bytes]]:
    """Animated WebP → (canvas_w, canvas_h, [duration_ms], [composited
    RGB frames]).  Still (non-VP8X) files, lossy subframes, and
    malformed layouts raise MediaFormatError."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise MediaFormatError("not a WebP payload")
    cpos = 12
    cw = ch = None
    bg = (0, 0, 0)
    canvas = None
    durs: list[int] = []
    frames: list[bytes] = []
    saw_anim = False
    while cpos + 8 <= len(payload):
        cid = payload[cpos : cpos + 4]
        size = struct.unpack_from("<I", payload, cpos + 4)[0]
        body = cpos + 8
        if body + size > len(payload):
            raise MediaFormatError("truncated WebP chunk")
        chunk = payload[body : body + size]
        if cid == b"VP8X":
            if len(chunk) < 10:
                raise MediaFormatError("truncated VP8X header")
            if not chunk[0] & 0x02:
                raise MediaFormatError(
                    "WebP VP8X without the ANIM flag is not animated"
                )
            cw = int.from_bytes(chunk[4:7], "little") + 1
            ch = int.from_bytes(chunk[7:10], "little") + 1
            if cw * ch > (1 << 24):
                raise MediaFormatError("WebP canvas out of range")
        elif cid == b"ANIM":
            if cw is None:
                raise MediaFormatError("ANIM before VP8X")
            if len(chunk) < 6:
                raise MediaFormatError("truncated ANIM chunk")
            bg = (chunk[2], chunk[1], chunk[0])  # stored B,G,R,A
            saw_anim = True
            canvas = np.empty((ch, cw, 3), dtype=np.uint8)
            canvas[:, :] = bg
        elif cid == b"ANMF":
            if canvas is None:
                raise MediaFormatError("ANMF before ANIM")
            if len(chunk) < 24:
                raise MediaFormatError("truncated ANMF chunk")
            fx = int.from_bytes(chunk[0:3], "little") * 2
            fy = int.from_bytes(chunk[3:6], "little") * 2
            fw = int.from_bytes(chunk[6:9], "little") + 1
            fh = int.from_bytes(chunk[9:12], "little") + 1
            dur = int.from_bytes(chunk[12:15], "little")
            fl = chunk[15]
            if fx + fw > cw or fy + fh > ch:
                raise MediaFormatError("ANMF frame outside the canvas")
            scid = chunk[16:20]
            ssize = struct.unpack_from("<I", chunk, 20)[0]
            if 24 + ssize > len(chunk):
                raise MediaFormatError("truncated ANMF subframe")
            sub = chunk[24 : 24 + ssize]
            if scid in (b"VP8 ", b"ALPH"):
                raise MediaFormatError(
                    "lossy (VP8/ALPH) animation subframes are "
                    "probe-only (VP8L frames decode)"
                )
            if scid != b"VP8L":
                raise MediaFormatError(
                    f"unknown ANMF subframe chunk {scid!r}"
                )
            sw, sh, rgba = decode_vp8l(sub, rgba=True)
            if (sw, sh) != (fw, fh):
                raise MediaFormatError(
                    "ANMF subframe dims disagree with its header"
                )
            px = np.frombuffer(rgba, dtype=np.uint8).reshape(fh, fw, 4)
            region = canvas[fy : fy + fh, fx : fx + fw]
            if fl & 0x02:  # do-not-blend: overwrite
                region[:] = px[:, :, :3]
            else:  # integer src-over onto the opaque canvas
                a = px[:, :, 3:4].astype(np.uint16)
                src = px[:, :, :3].astype(np.uint16)
                dst = region.astype(np.uint16)
                region[:] = (
                    (src * a + dst * (255 - a) + 127) // 255
                ).astype(np.uint8)
            frames.append(canvas.tobytes())
            durs.append(dur)
            if fl & 0x01:  # dispose to background
                canvas[fy : fy + fh, fx : fx + fw] = bg
        cpos = body + size + (size & 1)
    if not saw_anim or not frames:
        raise MediaFormatError("WebP carries no animation frames")
    return cw, ch, durs, frames


class WebpAnimSampler:
    """FrameSampler seam over animated WebP — ANMF durations are real
    per-frame delays, so timestamp sampling walks the prefix sums
    (mirrors codecs.GifFrameSampler)."""

    def duration_ms(self, payload: bytes) -> int:
        _w, _h, durs, _f = decode_webp_anim(payload)
        return sum(durs)

    def frame_index_at(self, payload: bytes, ts_ms: int) -> int:
        _w, _h, durs, _f = decode_webp_anim(payload)
        t = 0
        for i, d in enumerate(durs):
            t += d
            if ts_ms < t:
                return i
        return len(durs) - 1

    def frame_at(self, payload: bytes, ts_ms: int) -> bytes:
        w, h, durs, frames = decode_webp_anim(payload)
        from reindexer_spark.codecs import encode_bmp

        return encode_bmp(w, h, frames[self.frame_index_at(payload, ts_ms)])
