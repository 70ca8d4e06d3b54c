"""WebP-lossless (VP8L) decoder tests.

The forward encoder here is written INDEPENDENTLY from the public WebP
lossless bitstream spec (flat complete prefix codes — correct, not
compressed) and never imports the package decoder's internals, so a
round-trip match is two implementations of the spec agreeing, the same
evidence standard as test_flac/test_gif/test_tiff. It doubles as the
fixture generator for the pinned ALPHA_WEBP literal
(tools/gen_media_fixtures.py imports `_webp_lossless`).
"""

from __future__ import annotations

import numpy as np
import pytest

from travel_data_ingestion_spark.llm.vp8l import decode_vp8l_stream, decode_webp

# ---------------------------------------------------------------------------
# independent forward encoder (spec-derived; flat prefix codes)


class _BW:
    """LSB-first bit writer."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int):
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def put_code(self, code: int, n: int):
        """A prefix code is consumed MSB-first by the tree walk."""
        for i in range(n - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _flat_lengths(a: int) -> list[int]:
    """Complete canonical code over an a-symbol alphabet: m = 2^L - a
    symbols get length L-1, the rest length L (Kraft sum exactly 1)."""
    if a == 1:
        return [1]
    big = 1
    while (1 << big) < a:
        big += 1
    m = (1 << big) - a
    return [big - 1] * m + [big] * (a - m)


def _canon(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical code assignment (lengths ascending, symbols within)."""
    code = 0
    last = 0
    out = {}
    for ln, sym in sorted((l, s) for s, l in enumerate(lengths) if l):
        code <<= ln - last
        last = ln
        out[sym] = (code, ln)
        code += 1
    return out


_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _write_prefix(bw: _BW, lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Emit one prefix-code description (normal form: code-length code
    over the distinct length values, then one CLC symbol per alphabet
    slot); returns the canonical symbol->(code,len) map for payload
    writing."""
    bw.put(0, 1)  # not simple
    used = sorted(set(lengths))  # may include 0
    clc_lengths = [0] * 19
    if len(used) == 1:
        clc_lengths[used[0]] = 1  # single-symbol CLC: zero bits per read
    else:
        for v, ln in zip(used, _flat_lengths(len(used))):
            clc_lengths[v] = ln
    num_clc = max(_CLC_ORDER.index(v) for v in used) + 1
    num_clc = max(num_clc, 4)
    bw.put(num_clc - 4, 4)
    for i in range(num_clc):
        bw.put(clc_lengths[_CLC_ORDER[i]], 3)
    bw.put(0, 1)  # no max-symbol cap
    clc = _canon(clc_lengths)
    for ln in lengths:
        if len(used) > 1:
            c, n = clc[ln]
            bw.put_code(c, n)
        # single-length alphabets read zero bits per symbol
    return _canon(lengths)


def _len_to_prefix(v: int) -> tuple[int, int, int]:
    """Inverse of the LZ77 prefix-coding: value -> (symbol, extra_bits,
    extra_value)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset + 1 <= v <= offset + (1 << extra):
            return sym, extra, v - offset - 1
    raise ValueError(v)


def _cache_key(px: int, cache_bits: int) -> int:
    return (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)


def _vp8l_stream(
    w: int,
    h: int,
    argb: list[int],
    *,
    subtract_green: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    palette: bool = False,
) -> bytes:
    """Encode ARGB pixels as a VP8L bitstream (flat prefix codes)."""
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)  # alpha hint
    bw.put(0, 3)  # version

    px = list(argb)
    if subtract_green:
        bw.put(1, 1)
        bw.put(2, 2)  # transform type: subtract green
        out = []
        for p in px:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        px = out

    if palette:
        pal: list[int] = []
        for p in px:
            if p not in pal:
                pal.append(p)
        assert len(pal) <= 256
        n_pal = len(pal)
        if n_pal <= 2:
            width_bits = 3
        elif n_pal <= 4:
            width_bits = 2
        elif n_pal <= 16:
            width_bits = 1
        else:
            width_bits = 0
        bw.put(1, 1)
        bw.put(3, 2)  # transform type: color indexing
        bw.put(n_pal - 1, 8)
        # palette = 1 x n_pal image, entries delta-coded per channel
        deltas = []
        prev = 0
        for p in pal:
            deltas.append(
                ((((p >> 24) - (prev >> 24)) & 0xFF) << 24)
                | (((((p >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16)
                | (((((p >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8)
                | (((p & 0xFF) - (prev & 0xFF)) & 0xFF)
            )
            prev = p
        _write_plain_image(bw, deltas)
        # bundle indices into the green channel of packed pixels
        ppb = 1 << width_bits
        ibits = 8 >> width_bits
        packed_w = (w + ppb - 1) // ppb
        packed = []
        for y in range(h):
            for bx in range(packed_w):
                bundle = 0
                for k in range(ppb):
                    x = bx * ppb + k
                    if x < w:
                        bundle |= pal.index(px[y * w + x]) << (ibits * k)
                packed.append(0xFF000000 | (bundle << 8))
        px = packed
        w = packed_w

    bw.put(0, 1)  # end of transforms
    _write_plain_image(
        bw, px, width=w, cache_bits=cache_bits, lz77=lz77, level0=True
    )
    return bw.bytes()


def _write_plain_image(
    bw: _BW,
    px: list[int],
    width: int | None = None,
    cache_bits: int = 0,
    lz77: bool = False,
    level0: bool = False,
):
    """One spatially-coded image: optional color cache, no meta codes,
    flat prefix codes, optional greedy LZ77 over identical runs."""
    if cache_bits:
        bw.put(1, 1)
        bw.put(cache_bits, 4)
    else:
        bw.put(0, 1)
    if level0:
        bw.put(0, 1)  # no meta prefix codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    green = _write_prefix(bw, _flat_lengths(256 + 24 + cache_size))
    red = _write_prefix(bw, _flat_lengths(256))
    blue = _write_prefix(bw, _flat_lengths(256))
    alpha = _write_prefix(bw, _flat_lengths(256))
    dist = _write_prefix(bw, _flat_lengths(40))

    cache = [None] * cache_size
    i = 0
    n = len(px)
    while i < n:
        # greedy: emit a backref for a run of >= 3 pixels equal to the
        # previous pixel (dist=1), the simplest spec-legal LZ77 shape
        if lz77 and i > 0:
            run = 0
            while i + run < n and px[i + run] == px[i - 1] and run < 4096:
                run += 1
            if run >= 3:
                sym, extra, ev = _len_to_prefix(run)
                c, ln = green[256 + sym]
                bw.put_code(c, ln)
                bw.put(ev, extra)
                dsym, dextra, dev = _len_to_prefix(1 + 120)  # linear dist 1
                c, ln = dist[dsym]
                bw.put_code(c, ln)
                bw.put(dev, dextra)
                if cache_size:
                    for k in range(run):
                        cache[_cache_key(px[i + k], cache_bits)] = px[i + k]
                i += run
                continue
        p = px[i]
        if cache_size and cache[_cache_key(p, cache_bits)] == p:
            c, ln = green[256 + 24 + _cache_key(p, cache_bits)]
            bw.put_code(c, ln)
        else:
            c, ln = green[(p >> 8) & 0xFF]
            bw.put_code(c, ln)
            c, ln = red[(p >> 16) & 0xFF]
            bw.put_code(c, ln)
            c, ln = blue[p & 0xFF]
            bw.put_code(c, ln)
            c, ln = alpha[(p >> 24) & 0xFF]
            bw.put_code(c, ln)
            if cache_size:
                cache[_cache_key(p, cache_bits)] = p
        i += 1


def _riff_webp(stream: bytes) -> bytes:
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _webp_lossless(rgb: np.ndarray, **kw) -> bytes:
    """RGB (h, w, 3) uint8 -> lossless WebP file bytes (opaque alpha)."""
    h, w = rgb.shape[:2]
    argb = [
        0xFF000000 | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b in rgb.reshape(-1, 3)
    ]
    return _riff_webp(_vp8l_stream(w, h, argb, **kw))


# ---------------------------------------------------------------------------
# round-trips (two spec implementations agreeing)


def _rand_rgb(seed: int, h: int, w: int) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype("uint8")


@pytest.mark.parametrize("seed,h,w", [(1, 8, 8), (2, 11, 5), (3, 1, 17), (4, 16, 1)])
def test_roundtrip_literals(seed, h, w):
    rgb = _rand_rgb(seed, h, w)
    dec = decode_webp(_webp_lossless(rgb))
    assert dec is not None
    dw, dh, px = dec
    assert (dw, dh) == (w, h)
    assert px == rgb.tobytes()


def test_roundtrip_subtract_green():
    rgb = _rand_rgb(7, 9, 13)
    dec = decode_webp(_webp_lossless(rgb, subtract_green=True))
    assert dec is not None and dec[2] == rgb.tobytes()


@pytest.mark.parametrize("cache_bits", [1, 4, 11])
def test_roundtrip_color_cache(cache_bits):
    # few distinct colors -> the cache actually gets hits
    r = np.random.RandomState(5)
    rgb = (r.randint(0, 4, (12, 12, 3)) * 80).astype("uint8")
    dec = decode_webp(_webp_lossless(rgb, cache_bits=cache_bits))
    assert dec is not None and dec[2] == rgb.tobytes()


def test_roundtrip_lz77_runs():
    rgb = np.zeros((10, 16, 3), dtype="uint8")
    rgb[:, :, 0] = 200  # long identical runs -> dist-1 backrefs fire
    rgb[3, 5] = (1, 2, 3)
    rgb[7, 0] = (9, 8, 7)
    payload = _webp_lossless(rgb, lz77=True)
    dec = decode_webp(payload)
    assert dec is not None and dec[2] == rgb.tobytes()
    # the stream with backrefs must be materially smaller than literals
    assert len(payload) < len(_webp_lossless(rgb)) * 0.6


@pytest.mark.parametrize("n_colors,shape", [(2, (8, 21)), (4, (6, 9)), (13, (7, 10)), (40, (5, 8))])
def test_roundtrip_palette_bundling(n_colors, shape):
    r = np.random.RandomState(n_colors)
    pal = r.randint(0, 256, (n_colors, 3)).astype("uint8")
    idx = r.randint(0, n_colors, shape)
    rgb = pal[idx]
    dec = decode_webp(_webp_lossless(rgb, palette=True))
    assert dec is not None and dec[2] == rgb.tobytes()


def test_roundtrip_combined_cache_lz77_subtract_green():
    r = np.random.RandomState(11)
    rgb = (r.randint(0, 3, (14, 14, 3)) * 100).astype("uint8")
    rgb[5:9, :] = rgb[4, 0]
    dec = decode_webp(
        _webp_lossless(rgb, subtract_green=True, cache_bits=6, lz77=True)
    )
    assert dec is not None and dec[2] == rgb.tobytes()


# ---------------------------------------------------------------------------
# hand-built streams: predictor modes, color transform, distance map


def _plain_with_transform_header(w, h, argb, header_bits):
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    for v, n in header_bits:
        bw.put(v, n)
    bw.put(0, 1)  # end transforms
    _write_plain_image(bw, argb, width=w, level0=True)
    return bw.bytes()


def _predictor_stream(w, h, residuals, mode: int) -> bytes:
    """One predictor block covering the whole image (size_bits max)."""
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)  # has transform
    bw.put(0, 2)  # predictor
    bw.put(7, 3)  # size_bits = 9 -> 512-px blocks, one block
    _write_plain_image(bw, [0xFF000000 | (mode << 8)])
    bw.put(0, 1)  # end transforms
    _write_plain_image(bw, residuals, width=w, level0=True)
    return bw.bytes()


def _pure_py_predict(mode, l, t, tl, tr):
    """Reference predictor math, written separately from the decoder."""

    def chans(p):
        return [(p >> s) & 0xFF for s in (24, 16, 8, 0)]

    def pack(cs):
        v = 0
        for c, s in zip(cs, (24, 16, 8, 0)):
            v |= (c & 0xFF) << s
        return v

    def avg2(p, q):
        return pack([(a + b) >> 1 for a, b in zip(chans(p), chans(q))])

    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return avg2(avg2(l, tr), t)
    if mode == 6:
        return avg2(l, tl)
    if mode == 7:
        return avg2(l, t)
    if mode == 8:
        return avg2(tl, t)
    if mode == 9:
        return avg2(t, tr)
    if mode == 10:
        return avg2(avg2(l, tl), avg2(t, tr))
    if mode == 11:
        pl = pt = 0
        for cl, ct, ctl in zip(chans(l), chans(t), chans(tl)):
            p = cl + ct - ctl
            pl += abs(p - cl)
            pt += abs(p - ct)
        return l if pl < pt else t
    if mode == 12:
        return pack(
            [
                max(0, min(255, a + b - c))
                for a, b, c in zip(chans(l), chans(t), chans(tl))
            ]
        )
    if mode == 13:
        out = []
        for a, b, c in zip(chans(l), chans(t), chans(tl)):
            ave = (a + b) >> 1
            d = ave - c
            half = d // 2 if d >= 0 else -((-d) // 2)
            out.append(max(0, min(255, ave + half)))
        return pack(out)
    raise ValueError(mode)


@pytest.mark.parametrize("mode", list(range(14)))
def test_predictor_modes(mode):
    """Encode residuals for target pixels under each predictor mode and
    check the decoder reconstructs the targets (independent forward
    predictor math)."""
    w, h = 5, 4
    r = np.random.RandomState(100 + mode)
    target = [
        0xFF000000 | (int(v[0]) << 16) | (int(v[1]) << 8) | int(v[2])
        for v in r.randint(0, 256, (w * h, 3))
    ]
    # forward pass: residual = target - predicted (per channel, mod 256)
    residuals = []
    for i in range(w * h):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = target[i - 1]
        elif x == 0:
            pred = target[i - w]
        else:
            tr_px = target[i - w + 1]  # rightmost col: wraps to row start
            pred = _pure_py_predict(
                mode, target[i - 1], target[i - w], target[i - w - 1], tr_px
            )
        res = 0
        for s in (24, 16, 8, 0):
            res |= ((((target[i] >> s) & 0xFF) - ((pred >> s) & 0xFF)) & 0xFF) << s
        residuals.append(res)
    dec = decode_vp8l_stream(_predictor_stream(w, h, residuals, mode))
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in target
    )
    assert dec[2] == expect


def test_color_transform_inverse():
    """One color-transform block: known coefficients, forward transform
    computed here, decoder must invert it exactly."""
    w, h = 6, 3
    g2r, g2b, r2b = 17, 250, 5  # int8: 17, -6, 5

    def delta(t, c):
        if t >= 128:
            t -= 256
        if c >= 128:
            c -= 256
        return (t * c) >> 5

    r = np.random.RandomState(55)
    target = [
        0xFF000000 | (int(v[0]) << 16) | (int(v[1]) << 8) | int(v[2])
        for v in r.randint(0, 256, (w * h, 3))
    ]
    # forward: subtract the deltas the decoder will add back
    coded = []
    for p in target:
        a = (p >> 24) & 0xFF
        red = (p >> 16) & 0xFF
        g = (p >> 8) & 0xFF
        b = p & 0xFF
        new_b = (b - delta(g2b, g) - delta(r2b, red)) & 0xFF
        new_r = (red - delta(g2r, g)) & 0xFF
        coded.append((a << 24) | (new_r << 16) | (g << 8) | new_b)

    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(1, 2)  # color transform
    bw.put(7, 3)  # one block
    cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    _write_plain_image(bw, [cte])
    bw.put(0, 1)
    _write_plain_image(bw, coded, width=w, level0=True)
    dec = decode_vp8l_stream(bw.bytes())
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in target
    )
    assert dec[2] == expect


def test_distance_map_2d():
    """A backref with a 2-D distance code: code 1 = (dx=0, dy=1), i.e.
    copy the pixel directly above."""
    w, h = 4, 3
    row = [0xFF000000 | (i << 16) | (i * 7 << 8) | (255 - i) for i in (10, 60, 200, 140)]
    px = row + row + row  # rows 1..2 copy row above

    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta
    green = _write_prefix(bw, _flat_lengths(256 + 24))
    red = _write_prefix(bw, _flat_lengths(256))
    blue = _write_prefix(bw, _flat_lengths(256))
    alpha = _write_prefix(bw, _flat_lengths(256))
    dist = _write_prefix(bw, _flat_lengths(40))
    for p in row:  # first row: literals
        for tbl, val in (
            (green, (p >> 8) & 0xFF),
            (red, (p >> 16) & 0xFF),
            (blue, p & 0xFF),
            (alpha, (p >> 24) & 0xFF),
        ):
            c, ln = tbl[val]
            bw.put_code(c, ln)
    # one backref: length 8, distance code 1 (the (0,1) map entry)
    sym, extra, ev = _len_to_prefix(8)
    c, ln = green[256 + sym]
    bw.put_code(c, ln)
    bw.put(ev, extra)
    dsym, dextra, dev = _len_to_prefix(1)
    c, ln = dist[dsym]
    bw.put_code(c, ln)
    bw.put(dev, dextra)

    dec = decode_vp8l_stream(bw.bytes())
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in px
    )
    assert dec[2] == expect


def test_meta_prefix_groups():
    """Two meta prefix groups selected by the entropy image: group 1 is
    a single-symbol degenerate code, so the right half of the image
    costs zero bits per pixel — decoding correctly proves group
    selection by (x >> bits, y >> bits)."""
    w, h = 8, 4
    left = 0xFF000000 | (40 << 16) | (90 << 8) | 200
    right = 0xFF102030
    px = [(left if x < 4 else right) for y in range(h) for x in range(w)]

    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(1, 1)  # meta prefix codes present
    bw.put(0, 3)  # huffman_bits = 2 -> 4x4 blocks -> entropy image 2x1
    # entropy image pixels: (red<<8|green) = group index: [0, 1]
    _write_plain_image(bw, [0xFF000000 | (0 << 8), 0xFF000000 | (1 << 8)])
    # group 0: flat codes (writes left-half literals)
    g0_green = _write_prefix(bw, _flat_lengths(256 + 24))
    g0_red = _write_prefix(bw, _flat_lengths(256))
    g0_blue = _write_prefix(bw, _flat_lengths(256))
    g0_alpha = _write_prefix(bw, _flat_lengths(256))
    _write_prefix(bw, _flat_lengths(40))

    # group 1: single-symbol codes pinned to `right`'s channels
    def single(alphabet: int, sym: int):
        lengths = [0] * alphabet
        lengths[sym] = 1
        bw.put(1, 1)  # simple
        bw.put(0, 1)  # one symbol
        bw.put(1, 1)  # 8-bit symbol
        bw.put(sym, 8)

    single(256 + 24, (right >> 8) & 0xFF)
    single(256, (right >> 16) & 0xFF)
    single(256, right & 0xFF)
    single(256, (right >> 24) & 0xFF)
    single(40, 0)

    for p in px:
        if p == left:
            for tbl, val in (
                (g0_green, (p >> 8) & 0xFF),
                (g0_red, (p >> 16) & 0xFF),
                (g0_blue, p & 0xFF),
                (g0_alpha, (p >> 24) & 0xFF),
            ):
                c, ln = tbl[val]
                bw.put_code(c, ln)
        # right pixels: all four codes are degenerate -> zero bits

    dec = decode_vp8l_stream(bw.bytes())
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in px
    )
    assert dec[2] == expect


def test_alpha_composites_over_white():
    """Non-opaque alpha follows the repo-wide over-white convention."""
    argb = [(0x80 << 24) | (0 << 16) | (0 << 8) | 0]  # 50% black
    dec = decode_vp8l_stream(_vp8l_stream(1, 1, argb))
    assert dec is not None
    # (0*128 + 255*127 + 127) // 255 == 127
    assert dec[2] == bytes([127, 127, 127])


# ---------------------------------------------------------------------------
# container + adversarial totality


def test_container_vp8x_wrapped():
    rgb = _rand_rgb(9, 6, 6)
    stream = _vp8l_stream(6, 6, [
        0xFF000000 | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b in rgb.reshape(-1, 3)
    ])
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + bytes(10)
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        chunk += b"\x00"
    body = b"WEBP" + vp8x + chunk
    payload = b"RIFF" + len(body).to_bytes(4, "little") + body
    dec = decode_webp(payload)
    assert dec is not None and dec[2] == rgb.tobytes()


def test_lossy_webp_returns_none():
    body = b"WEBP" + b"VP8 " + (12).to_bytes(4, "little") + bytes(12)
    payload = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert decode_webp(payload) is None


@pytest.mark.parametrize(
    "mutate",
    [
        lambda p: p[:20],  # truncated mid-stream
        lambda p: b"",
        lambda p: p[:12],  # container only
        lambda p: p.replace(b"VP8L", b"XXXX", 1),
        lambda p: b"RIFF" + p[4:8] + b"WAVE" + p[12:],
    ],
)
def test_adversarial_returns_none(mutate):
    rgb = _rand_rgb(12, 8, 8)
    payload = _webp_lossless(rgb)
    assert decode_webp(mutate(payload)) is None


def test_truncation_totality_sweep():
    """Every prefix of a valid payload decodes to None or the full
    answer — never a hang, never an exception."""
    rgb = _rand_rgb(13, 5, 5)
    payload = _webp_lossless(rgb, cache_bits=3)
    full = decode_webp(payload)
    assert full is not None
    for cut in range(0, len(payload), 7):
        out = decode_webp(payload[:cut])
        assert out is None or out == full


def test_bad_signature_and_version():
    bw = _BW()
    bw.put(0x2E, 8)  # wrong signature byte
    assert decode_vp8l_stream(bw.bytes()) is None
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(3, 14)
    bw.put(3, 14)
    bw.put(0, 1)
    bw.put(5, 3)  # nonzero version
    assert decode_vp8l_stream(bw.bytes()) is None


def test_dimension_bomb_gated():
    """16383x16383 header with no pixel data: the size gate or the
    bounded reader must refuse, quickly, with None."""
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(16382, 14)
    bw.put(16382, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    assert decode_vp8l_stream(bw.bytes() + bytes(64)) is None


def test_oversubscribed_prefix_code_rejected():
    """A Kraft-oversubscribed code (three 1-bit lengths) is corrupt."""
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(0, 14)
    bw.put(0, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta
    # green code: normal form, CLC single symbol "1", then 3 lengths of 1
    bw.put(0, 1)  # not simple
    bw.put(15, 4)  # num_clc = 19
    for sym in _CLC_ORDER:
        bw.put(3 if sym == 1 else 0, 3)  # only length-value 1 codeable
    # CLC has ONE nonzero length -> zero bits per read -> every slot "1"
    bw.put(0, 1)  # no max-symbol cap
    assert decode_vp8l_stream(bw.bytes() + bytes(16)) is None


def test_lz77_before_any_pixel_rejected():
    """A backref at pos 0 references pixel -1: must fail closed."""
    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(3, 14)
    bw.put(0, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)
    bw.put(0, 1)
    bw.put(0, 1)
    green = _write_prefix(bw, _flat_lengths(256 + 24))
    for a in (256, 256, 256, 40):
        _write_prefix(bw, _flat_lengths(a))
    sym, extra, ev = _len_to_prefix(3)
    c, ln = green[256 + sym]
    bw.put_code(c, ln)
    bw.put(ev, extra)
    assert decode_vp8l_stream(bw.bytes() + bytes(8)) is None


def test_decode_image_dispatch():
    """decode_image routes RIFF/WEBP payloads to the VP8L decoder, so
    the whole pipeline (features, pHash) lights up."""
    from travel_data_ingestion_spark.llm.multimodal import decode_image, phash_bytes

    rgb = _rand_rgb(21, 24, 24)
    payload = _webp_lossless(rgb)
    dec = decode_image(payload)
    assert dec is not None and dec[2] == rgb.tobytes()
    # format invariance: the WebP re-encode pHashes identically to the
    # raw PPM of the same pixels
    ppm = b"P6\n24 24\n255\n" + rgb.tobytes()
    assert phash_bytes(payload) == phash_bytes(ppm)


def test_predictor_multi_block_modes():
    """size_bits=2 -> 4-px predictor blocks: a 8x4 image gets a 2x1
    block grid with DIFFERENT modes (H in the left block, V in the
    right), proving block selection by (x >> bits, y >> bits)."""
    w, h = 8, 4
    r = np.random.RandomState(77)
    target = [
        0xFF000000 | (int(v[0]) << 16) | (int(v[1]) << 8) | int(v[2])
        for v in r.randint(0, 256, (w * h, 3))
    ]
    modes = [1, 2]  # block 0: L, block 1: T

    def predict(i):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            return 0xFF000000
        if y == 0:
            return target[i - 1]
        if x == 0:
            return target[i - w]
        mode = modes[x >> 2]
        return target[i - 1] if mode == 1 else target[i - w]

    residuals = []
    for i in range(w * h):
        pred = predict(i)
        res = 0
        for s in (24, 16, 8, 0):
            res |= ((((target[i] >> s) & 0xFF) - ((pred >> s) & 0xFF)) & 0xFF) << s
        residuals.append(res)

    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)  # transform present
    bw.put(0, 2)  # predictor
    bw.put(0, 3)  # size_bits = 2 -> 4-px blocks -> 2x1 block image
    _write_plain_image(bw, [0xFF000000 | (m << 8) for m in modes])
    bw.put(0, 1)  # end transforms
    _write_plain_image(bw, residuals, width=w, level0=True)
    dec = decode_vp8l_stream(bw.bytes())
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in target
    )
    assert dec[2] == expect


def test_chained_subtract_green_then_predictor():
    """Two transforms in one stream (read order: predictor, subtract
    green; decoder applies inverses last-read-first): the encoder
    forward-applies subtract-green THEN predicts in that domain, so
    correct decoding proves the inverse ordering."""
    w, h = 6, 5
    r = np.random.RandomState(99)
    target = [
        0xFF000000 | (int(v[0]) << 16) | (int(v[1]) << 8) | int(v[2])
        for v in r.randint(0, 256, (w * h, 3))
    ]
    # forward subtract-green
    sg = []
    for p in target:
        g = (p >> 8) & 0xFF
        sg.append(
            (p & 0xFF00FF00)
            | (((((p >> 16) & 0xFF) - g) & 0xFF) << 16)
            | ((((p & 0xFF) - g) & 0xFF))
        )
    # forward predictor (mode 1 = L everywhere) in the sg domain
    residuals = []
    for i in range(w * h):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = sg[i - 1]
        elif x == 0:
            pred = sg[i - w]
        else:
            pred = sg[i - 1]
        res = 0
        for s in (24, 16, 8, 0):
            res |= ((((sg[i] >> s) & 0xFF) - ((pred >> s) & 0xFF)) & 0xFF) << s
        residuals.append(res)

    bw = _BW()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(0, 2)  # predictor (read first -> inverted LAST)
    bw.put(7, 3)  # one whole-image block
    _write_plain_image(bw, [0xFF000000 | (1 << 8)])  # mode 1 = L
    bw.put(1, 1)
    bw.put(2, 2)  # subtract green (read second -> inverted FIRST)
    bw.put(0, 1)  # end transforms
    _write_plain_image(bw, residuals, width=w, level0=True)
    dec = decode_vp8l_stream(bw.bytes())
    assert dec is not None
    expect = b"".join(
        bytes([(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]) for p in target
    )
    assert dec[2] == expect


# ---------------------------------------------------------------------------
# SYSTEM libwebp conformance (round 13): everything above round-trips
# through the in-repo forward encoder — the evidence class the QM-coder
# bugs lived in. Real libwebp lossless streams use the encoder's full
# repertoire (adaptive transform selection, meta-prefix entropy images,
# LZ77 + color-cache mixes the test encoder never emits); WebP lossless
# is bit-exact by definition, so the bar is EXACT RGB equality. Two
# library-produced vectors pin the default lane; the live battery
# (skipif libwebp absent) re-derives across content classes.

import ctypes
import ctypes.util
import hashlib as _hashlib


def _load_libwebp_lossless():
    for cand in ("/lib/x86_64-linux-gnu/libwebp.so.7",
                 ctypes.util.find_library("webp")):
        if not cand:
            continue
        try:
            lib = ctypes.CDLL(cand)
            lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
            lib.WebPEncodeLosslessRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ]
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            return lib
        except (OSError, AttributeError):
            continue
    return None


_LOSSLESS_LIB = _load_libwebp_lossless()
needs_libwebp_lossless = pytest.mark.skipif(
    _LOSSLESS_LIB is None, reason="libwebp not available"
)


def _sys_lossless(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LOSSLESS_LIB.WebPEncodeLosslessRGB(
        np.ascontiguousarray(arr).tobytes(), w, h, w * 3, ctypes.byref(out)
    )
    data = ctypes.string_at(out, n)
    _LOSSLESS_LIB.WebPFree(out)
    return data


_SYS_PHOTO_WEBP = bytes.fromhex(
    "52494646dc020000574542505650384cd00200002f1ec005004d0044d2fede3344f43f"
    "75a1906d0468fe90f7b11c440c74ff73f00a4043c1d5b6367af5a6f79d67b9bdae83d4"
    "6118c6429890827e8c8b2c0f69f7621b23ab39701b499196b7a797990ffeff2766ee99"
    "631c856ddb364098eef1ffb345231e3f3b083a300181c11b7cf841095b78c013ae7081"
    "17d7e20b67111adc710f0b3c0c003148efae9010ed0441730b07fe1adcd08c8280c307"
    "4e1a3f380b9050692932af55c80d88f440a2ecdcfc1eaa1c061c40d8c180c4a18ac61f"
    "530957f93244000e45e7a1d806e8404272b3cf13a648f4fb81700020044ecf63a180ad"
    "2740991ce604a11a70345382a52a31e1a994ad3e3e512c533b95a193c1630e688d2e65"
    "206167a44268383b59964fc051206511b1c4dbcd346eb83410f60d5b0bef623893ba06"
    "7ae20318cd81f45b5eb344c05d68aa2eda5d02a1a3357389da13f796e582029fb4caca"
    "dc89caf286374d60ae93419d8af0d43de73e9a332b86a841c2f6a37bcf566c40431b3a"
    "db301d7dff3c596a9bc7c97783e2038464db145a807ddd063639873e68507af5ea2d5a"
    "032227eabd9a1527580109b94b3487b48229f8d21dc45b595010f09143d041ab46670c"
    "dcfadebbc6a66047aab6e20a18dde75a2e8bf6090882c288ac765725810f05297a595b"
    "30fd8deb3f9d26dd5745a601b2e4d89c31ec71ae988ea436a350b7d477466e746d3c9a"
    "d8ee3ae288a48f896433c19f6efd49cae99e476814b6c24a484bc3edec9a2a602d5601"
    "84284936d98ff7a5f3e4a745103699dce22efe59fee83c31df784f51d964ff502afe97"
    "15e9c7a809b8c09a2c1f56627ecc009dec0630ffd387b1ad8043b4acd69a80abaac8be"
    "6a9059a8901f3b0adb950a8f14f599a26580a059b8f3f462f255ff21b911baa69b2acd"
    "f4c0b24c259865d49ebbccec81ba163b6155959ae3c4e4d5745f33fae34854389321e6"
    "e257e630e71333552bba2d2c28cc776d1e43394a86cb58ee30f0957c74118265e05820"
    "6042ddc903"
)
_SYS_PHOTO_SHAPE = (31, 24)
_SYS_PHOTO_SHA = "c6c374aa1f663d9e42f5f05c4a774ebfbb1043fafa7ff6850113707a433b6e6e"

_SYS_PALETTE_WEBP = bytes.fromhex(
    "52494646be000000574542505650384cb20000002f19c004001f3023c3335af31f7877"
    "80220000c168b6d56c9f6d57db8eb66ddbb6ad6c9bd1b6d3be11d1ff50567cd41ae3c1"
    "3606679e39ff28e77c3f5f6a03045b79df3c9a878fe96e379b2904cc2e366e80094095"
    "1b5e6088166678cfead83d1ab6fa217b151fa2dfb5f89af410d8c9c595b6f139b86a6b"
    "0aff948692b06df353f898076c22bd8f8776084f6ff8aac384163bc7793f60eb8a7ec8"
    "b0512c5a7980a84943884717729769909f65f599c42f20"
)
_SYS_PALETTE_SHAPE = (26, 20)
_SYS_PALETTE_SHA = "aec32fdc7be5f290997285b4df32fbd30ff27074330933f6c79e22ada1628af7"


@pytest.mark.parametrize(
    "payload,shape,sha",
    [
        (_SYS_PHOTO_WEBP, _SYS_PHOTO_SHAPE, _SYS_PHOTO_SHA),
        (_SYS_PALETTE_WEBP, _SYS_PALETTE_SHAPE, _SYS_PALETTE_SHA),
    ],
    ids=["sys_photo", "sys_palette"],
)
def test_pinned_libwebp_lossless_streams_decode_exact(payload, shape, sha):
    got = decode_webp(payload)
    assert got is not None
    w, h, rgb = got
    assert (w, h) == shape
    assert _hashlib.sha256(rgb).hexdigest() == sha


@needs_libwebp_lossless
def test_live_libwebp_lossless_across_content_classes():
    rng = np.random.default_rng(3)
    y, x = np.mgrid[0:40, 0:56]
    imgs = {
        "noise": rng.integers(0, 256, (33, 47, 3), dtype=np.uint8),
        "photo": np.clip(
            np.stack([120 + 60 * np.sin(x / 5.0), 90 + 50 * np.cos(y / 4.0),
                      (x * 3 + y * 2) % 256], axis=-1), 0, 255
        ).astype(np.uint8),
        "palette": (rng.integers(0, 4, (40, 56, 1))
                    * np.array([[[60, 35, 90]]])).astype(np.uint8),
        "gradient": np.stack([x * 4 % 256, y * 6 % 256, (x + y) % 256],
                             axis=-1).astype(np.uint8),
        "flat": np.full((17, 19, 3), 123, np.uint8),
        "big_noise": rng.integers(0, 256, (128, 96, 3), dtype=np.uint8),
        "tiny": rng.integers(0, 256, (1, 1, 3), dtype=np.uint8),
    }
    for name, arr in imgs.items():
        got = decode_webp(_sys_lossless(arr))
        assert got is not None, name
        w, h, rgb = got
        dec = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert np.array_equal(dec, arr), name

    # pinned vectors stay regenerable from the same library
    for payload in (_SYS_PHOTO_WEBP, _SYS_PALETTE_WEBP):
        assert decode_webp(payload) is not None
