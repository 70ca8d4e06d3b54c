"""WebP-lossless (VP8L) decode with stdlib + numpy only — no codec
library.

Honest scope (everything else returns None -> the documented opaque
stub path in llm/multimodal): RIFF/WEBP containers carrying a VP8L
bitstream, directly or inside a VP8X extended container. Covers the
full VP8L coded-image feature set: LSB-first bit reading, simple
(1/2-symbol) and normal prefix codes (code-length codes with 16/17/18
RLE and the max-symbol early-out), meta prefix-code partitioning via
the entropy image, the color cache, LZ77 backward references with the
120-entry two-dimensional distance map, and all four transforms —
PREDICTOR (14 modes), COLOR (signed 3.5 fixed-point cross-channel
deltas), SUBTRACT-GREEN, and COLOR-INDEXING including sub-byte pixel
bundling (1/2/4-bit palette indices). Lossy WebP ('VP8 ' chunks) and
lossless-with-alpha-chunk inside VP8X are NOT decoded here beyond the
VP8L payload itself; a lossy-only file returns None (the stub path).

Implemented from the public WebP Lossless Bitstream Specification
(Google, "WebP lossless bitstream specification") — reference parity
with the format only, not with any codebase. VP8L is LOSSLESS, so the
test suite can be exact: an independent forward encoder written from
the same spec (tests/test_webp.py) round-trips arbitrary RGB
bit-identically through literals, LZ77 references, the color cache,
subtract-green, and palettization, and hand-built streams pin every
predictor mode and the distance-map geometry.

Decoded output is capped via multimodal.MAX_DECODE_BYTES before
allocation, and the bounded bit reader turns truncated streams into
None instead of hangs or overreads.

Performance note: like llm/jpeg.py this is a pure-Python per-payload
kernel inside the Arrow-batched image operators — the honest slow
path.
"""

from __future__ import annotations

# Code-length-code read order (spec section on prefix-code groups).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 120-entry (dx, dy) short-distance map for LZ77 distance codes <= 120
# (spec: codes address a local 2-D neighborhood before falling back to
# linear distances).
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _Bits:
    """Bounded LSB-first bit reader; raises EOFError past the end (the
    entry point maps that to None)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise EOFError
        v = 0
        for i in range(n):
            q = p + i
            v |= ((self.data[q >> 3] >> (q & 7)) & 1) << i
        self.pos = p + n
        return v

    def bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise EOFError
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class _Prefix:
    """Canonical prefix code decoded bit-by-bit (codes are assigned the
    DEFLATE canonical way — lengths ascending, symbol order within a
    length — and the stream carries each code MSB-first)."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths: list[int]):
        self.single = None
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            # degenerate one-symbol code: zero bits per symbol
            self.single = nz[0][1]
            self.table = {}
            self.max_len = 0
            return
        if not nz:
            raise ValueError("empty prefix code")
        # Kraft check: an over- or under-subscribed code is corrupt
        # (an under-full tree would make some bit paths undecodable).
        kraft = sum(1 << (15 - l) for l, _s in nz)
        if kraft != 1 << 15:
            raise ValueError("prefix code not full")
        code = 0
        last_len = 0
        table: dict[tuple[int, int], int] = {}
        for l, s in sorted(nz):
            code <<= l - last_len
            last_len = l
            table[(l, code)] = s
            code += 1
        self.table = table
        self.max_len = max(l for l, _s in nz)

    def read(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        table = self.table
        while True:
            code = (code << 1) | br.bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
            if ln > self.max_len:
                raise ValueError("invalid prefix code stream")


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Prefix:
    """One prefix code: the 'simple' 1/2-symbol form or the normal
    code-length-coded form."""
    if br.bit():  # simple
        num_symbols = br.bit() + 1
        if br.bit():  # first symbol is 8 bits
            first = br.read(8)
        else:
            first = br.bit()
        lengths = [0] * alphabet_size
        if first >= alphabet_size:
            raise ValueError("simple code symbol out of range")
        if num_symbols == 1:
            lengths[first] = 1  # _Prefix detects the 1-symbol case
        else:
            second = br.read(8)
            if second >= alphabet_size or second == first:
                raise ValueError("simple code symbol invalid")
            lengths[first] = 1
            lengths[second] = 1
        return _Prefix(lengths)

    # normal: code-length code first
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(clc_lengths)

    # optional cap on the number of coded symbols
    if br.bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size

    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        sym = clc.read(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            for _ in range(3 + br.read(2)):
                if i >= alphabet_size:
                    raise ValueError("code length repeat overflow")
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet_size:
            raise ValueError("code length run overflow")
    return _Prefix(lengths)


def _prefix_coded_value(sym: int, br: _Bits) -> int:
    """LZ77 length/distance prefix decoding: 4 direct codes then
    exponentially growing extra-bit ranges (spec 'LZ77 prefix coding')."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


class _Group:
    __slots__ = ("green", "red", "blue", "alpha", "dist")

    def __init__(self, br: _Bits, cache_bits: int):
        cache_size = (1 << cache_bits) if cache_bits else 0
        self.green = _read_prefix_code(br, 256 + 24 + cache_size)
        self.red = _read_prefix_code(br, 256)
        self.blue = _read_prefix_code(br, 256)
        self.alpha = _read_prefix_code(br, 256)
        self.dist = _read_prefix_code(br, 40)


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _decode_pixels(br: _Bits, w: int, h: int, is_level0: bool) -> list[int]:
    """Decode one spatially-coded image of w*h ARGB uint32 pixels (the
    spec's DecodeImageStream minus the transform prologue, which only
    the top-level caller reads)."""
    from travel_data_ingestion_spark.llm.multimodal import MAX_DECODE_BYTES

    if w <= 0 or h <= 0 or w * h * 4 > MAX_DECODE_BYTES:
        raise ValueError("vp8l image too large")

    cache_bits = 0
    if br.bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    # meta prefix codes (level-0 spatial image only)
    meta = None
    huffman_bits = 0
    n_groups = 1
    if is_level0 and br.bit():
        huffman_bits = br.read(3) + 2
        mw = _div_round_up(w, 1 << huffman_bits)
        mh = _div_round_up(h, 1 << huffman_bits)
        meta = _decode_pixels(br, mw, mh, False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1

    groups = [_Group(br, cache_bits) for _ in range(n_groups)]

    n = w * h
    out = [0] * n
    pos = 0
    g = groups[0]
    mw = _div_round_up(w, 1 << huffman_bits) if meta is not None else 0
    while pos < n:
        if meta is not None:
            x = pos % w
            y = pos // w
            mp = meta[(y >> huffman_bits) * mw + (x >> huffman_bits)]
            g = groups[(mp >> 8) & 0xFFFF]
        sym = g.green.read(br)
        if sym < 256:
            red = g.red.read(br)
            blue = g.blue.read(br)
            alpha = g.alpha.read(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif sym < 256 + 24:
            length = _prefix_coded_value(sym - 256, br)
            dist_code = _prefix_coded_value(g.dist.read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("lz77 reference out of range")
            src = pos - dist
            for i in range(length):
                px = out[src + i]
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        else:
            if cache is None:
                raise ValueError("cache symbol without color cache")
            px = cache[sym - 256 - 24]
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
    return out


# ---------------------------------------------------------------------------
# transforms


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _pred_avg2(p1: int, p2: int) -> int:
    return (
        (_avg2((p1 >> 24) & 0xFF, (p2 >> 24) & 0xFF) << 24)
        | (_avg2((p1 >> 16) & 0xFF, (p2 >> 16) & 0xFF) << 16)
        | (_avg2((p1 >> 8) & 0xFF, (p2 >> 8) & 0xFF) << 8)
        | _avg2(p1 & 0xFF, p2 & 0xFF)
    )


def _select(l: int, t: int, tl: int) -> int:
    p_l = 0
    p_t = 0
    for shift in (24, 16, 8, 0):
        cl = (l >> shift) & 0xFF
        ct = (t >> shift) & 0xFF
        ctl = (tl >> shift) & 0xFF
        p = cl + ct - ctl
        p_l += abs(p - cl)
        p_t += abs(p - ct)
    return l if p_l < p_t else t


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        v = ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        out |= max(0, min(255, v)) << shift
    return out


def _clamp_add_half(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        a = _avg2((l >> shift) & 0xFF, (t >> shift) & 0xFF)
        b = (tl >> shift) & 0xFF
        d = a - b
        # C-style truncation toward zero (the spec's integer division)
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= max(0, min(255, a + half)) << shift
    return out


def _add_px(a: int, b: int) -> int:
    """Per-channel modular addition of two ARGB words."""
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _apply_predictor_inverse(px: list[int], w: int, h: int, data, bits: int):
    bw = _div_round_up(w, 1 << bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]  # L
            elif x == 0:
                pred = px[i - w]  # T
            else:
                mode = (data[(y >> bits) * bw + (x >> bits)] >> 8) & 0xFF
                l = px[i - 1]
                t = px[i - w]
                tl = px[i - w - 1]
                # TR; for the rightmost column the spec defines TR as the
                # leftmost pixel of the SAME row, which is exactly what
                # flat row-major addressing yields at x == w-1.
                tr = px[i - w + 1]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = l
                elif mode == 2:
                    pred = t
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _pred_avg2(_pred_avg2(l, tr), t)
                elif mode == 6:
                    pred = _pred_avg2(l, tl)
                elif mode == 7:
                    pred = _pred_avg2(l, t)
                elif mode == 8:
                    pred = _pred_avg2(tl, t)
                elif mode == 9:
                    pred = _pred_avg2(t, tr)
                elif mode == 10:
                    pred = _pred_avg2(_pred_avg2(l, tl), _pred_avg2(t, tr))
                elif mode == 11:
                    pred = _select(l, t, tl)
                elif mode == 12:
                    pred = _clamp_add_full(l, t, tl)
                elif mode == 13:
                    pred = _clamp_add_half(l, t, tl)
                else:
                    raise ValueError("bad predictor mode")
            px[i] = _add_px(px[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point color-transform delta: (int8 t * int8 c) >> 5
    with arithmetic shift."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _apply_color_inverse(px: list[int], w: int, h: int, data, bits: int):
    bw = _div_round_up(w, 1 << bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = data[(y >> bits) * bw + (x >> bits)]
            g2r = cte & 0xFF  # blue channel
            g2b = (cte >> 8) & 0xFF  # green channel
            r2b = (cte >> 16) & 0xFF  # red channel
            p = px[i]
            a = (p >> 24) & 0xFF
            r = (p >> 16) & 0xFF
            g = (p >> 8) & 0xFF
            b = p & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            px[i] = (a << 24) | (r << 16) | (g << 8) | b


def _apply_subtract_green_inverse(px: list[int]):
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        px[i] = (p & 0xFF00FF00) | (r << 16) | b


def _apply_color_index_inverse(
    px: list[int], w: int, h: int, palette: list[int], width_bits: int
) -> list[int]:
    """Expand palette indices (possibly sub-byte bundled) to ARGB."""
    n_pal = len(palette)
    if width_bits == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            out.append(palette[idx] if idx < n_pal else 0)
        return out
    ppb = 1 << width_bits  # pixels bundled per coded pixel
    ibits = 8 >> width_bits  # bits per index
    mask = (1 << ibits) - 1
    packed_w = _div_round_up(w, ppb)
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            coded = px[y * packed_w + (x >> width_bits)]
            bundle = (coded >> 8) & 0xFF
            idx = (bundle >> (ibits * (x & (ppb - 1)))) & mask
            out[y * w + x] = palette[idx] if idx < n_pal else 0
    return out


def decode_vp8l_stream(data: bytes) -> tuple[int, int, bytes] | None:
    """Decode a raw VP8L bitstream (the VP8L chunk payload) to
    (width, height, rgb_bytes). Alpha is composited over white — the
    repo-wide convention decode_gif/decode_png established."""
    try:
        br = _Bits(data)
        if br.read(8) != 0x2F:
            return None
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.bit()  # alpha hint
        if br.read(3) != 0:
            return None  # reserved version bits

        from travel_data_ingestion_spark.llm.multimodal import MAX_DECODE_BYTES

        if w * h * 4 > MAX_DECODE_BYTES:
            return None

        # transform prologue (level 0 only); each may appear once
        transforms = []  # (type, xsize-at-read, payload...)
        xsize = w
        seen = set()
        while br.bit():
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("duplicate transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # PREDICTOR / COLOR
                bits = br.read(3) + 2
                tw = _div_round_up(xsize, 1 << bits)
                th = _div_round_up(h, 1 << bits)
                tdata = _decode_pixels(br, tw, th, False)
                transforms.append((ttype, xsize, bits, tdata))
            elif ttype == 2:  # SUBTRACT GREEN
                transforms.append((2, xsize, 0, None))
            else:  # 3 = COLOR INDEXING
                n_pal = br.read(8) + 1
                praw = _decode_pixels(br, n_pal, 1, False)
                # palette entries are delta-coded pixel-to-pixel
                palette = []
                prev = 0
                for p in praw:
                    prev = _add_px(prev, p)
                    palette.append(prev)
                if n_pal <= 2:
                    width_bits = 3
                elif n_pal <= 4:
                    width_bits = 2
                elif n_pal <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, xsize, width_bits, palette))
                xsize = _div_round_up(xsize, 1 << width_bits)

        px = _decode_pixels(br, xsize, h, True)

        # inverse transforms, last-read first
        for ttype, txsize, bits, tdata in reversed(transforms):
            if ttype == 0:
                _apply_predictor_inverse(px, txsize, h, tdata, bits)
            elif ttype == 1:
                _apply_color_inverse(px, txsize, h, tdata, bits)
            elif ttype == 2:
                _apply_subtract_green_inverse(px)
            else:
                px = _apply_color_index_inverse(px, txsize, h, tdata, bits)

        # ARGB -> RGB over white (the repo-wide alpha convention)
        import numpy as np

        arr = np.array(px, dtype=np.uint32)
        a = (arr >> 24) & 0xFF
        rgb = np.stack(
            [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=1
        ).astype(np.uint32)
        out = (rgb * a[:, None] + 255 * (255 - a[:, None]) + 127) // 255
        return w, h, out.astype(np.uint8).tobytes()
    except (EOFError, ValueError, IndexError, OverflowError):
        return None


def decode_webp(payload: bytes) -> tuple[int, int, bytes] | None:
    """Parse a RIFF/WEBP container and decode its bitstream: VP8L
    (lossless, this module) or VP8 key-frame (lossy, llm/vp8.py)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    pos = 12
    end = min(len(payload), 8 + int.from_bytes(payload[4:8], "little"))
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l_stream(body)
        if fourcc == b"VP8 ":
            from travel_data_ingestion_spark.llm.vp8 import decode_vp8

            return decode_vp8(body)
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    return None
