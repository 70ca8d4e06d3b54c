"""Pure-stdlib PNG decode/encode.

decode_png covers every legal PNG (color types 0/2/3/4/6, depths
1/2/4/8/16 where the spec allows, non-interlaced and Adam7) with
nothing but zlib + numpy; these tests cross-check it against an
INDEPENDENT forward filter/packer implementation (all five scanline
filters, sub-byte bit packing, 16-bit samples, Adam7 pass extraction),
pin the rejection of genuinely-malformed streams, prove pHash
format-invariance (PPM vs PNG of the same pixels, interlaced vs not),
and decode real-world files from other encoders.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from travel_data_ingestion_spark.llm.multimodal import (
    PNG_SIGNATURE,
    decode_png,
    encode_png,
    phash_bytes,
)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _filter_scanlines(raw: bytes, h: int, stride: int, bpp: int, ftype: int) -> bytes:
    """Independent FORWARD filter (the encoder side of RFC 2083 §6),
    written from the spec — not from the decoder under test — so the
    unfilter logic is checked against a second implementation."""
    out = b""
    prev = bytes(stride)
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        row = bytearray([ftype])
        for x in range(stride):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            row.append((line[x] - pred) & 255)
        out += bytes(row)
        prev = line
    return out


def _png(
    w: int,
    h: int,
    color: int,
    raw_px: bytes,
    ftype: int = 0,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    scan = _filter_scanlines(raw_px, h, w * ch, ch, ftype)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan))
        + _chunk(b"IEND", b"")
    )


def _rand_px(seed: int, n: int) -> bytes:
    return np.random.RandomState(seed).randint(0, 256, n).astype("uint8").tobytes()


def test_encode_decode_roundtrip():
    for seed, (w, h) in [(1, (7, 5)), (2, (1, 1)), (3, (32, 3))]:
        rgb = _rand_px(seed, w * h * 3)
        assert decode_png(encode_png(w, h, rgb)) == (w, h, rgb)
    with pytest.raises(ValueError):
        encode_png(4, 4, b"short")


def test_all_five_filters_unfilter_correctly():
    """Each scanline filter type reverses exactly, cross-checked against
    the independent forward-filter implementation above."""
    w, h = 6, 4
    rgb = _rand_px(11, w * h * 3)
    for ftype in range(5):
        assert decode_png(_png(w, h, 2, rgb, ftype=ftype)) == (w, h, rgb)


def test_gray_and_alpha_color_types_normalize_to_rgb():
    w, h = 5, 3
    gray = _rand_px(7, w * h)
    g = np.frombuffer(gray, np.uint8)
    expect = np.repeat(g.reshape(h, w, 1), 3, axis=2).tobytes()
    for ftype in range(5):
        assert decode_png(_png(w, h, 0, gray, ftype=ftype)) == (w, h, expect)
    # gray+alpha: alpha dropped, gray replicated
    ga = _rand_px(8, w * h * 2)
    ga_px = np.frombuffer(ga, np.uint8).reshape(h, w, 2)
    expect_ga = np.repeat(ga_px[:, :, :1], 3, axis=2).tobytes()
    assert decode_png(_png(w, h, 4, ga, ftype=4)) == (w, h, expect_ga)
    # RGBA: alpha dropped
    rgba = _rand_px(9, w * h * 4)
    rgba_px = np.frombuffer(rgba, np.uint8).reshape(h, w, 4)
    expect_rgba = np.ascontiguousarray(rgba_px[:, :, :3]).tobytes()
    assert decode_png(_png(w, h, 6, rgba, ftype=1)) == (w, h, expect_rgba)


def test_codec_path_formats_honestly_rejected():
    w, h = 4, 4
    rgb = _rand_px(5, w * h * 3)
    good = _png(w, h, 2, rgb)
    assert decode_png(good) == (w, h, rgb)
    assert decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    # a 16-bit IHDR over 8-bit-sized data: needed bytes absent -> None
    assert decode_png(_png(w, h, 2, rgb, depth=16)[:200]) is None
    # a palette IHDR with no PLTE chunk: malformed -> None
    assert decode_png(_png(w, h, 3, rgb[: w * h])) is None
    assert decode_png(good[:40]) is None  # truncated mid-IDAT
    # corrupted deflate stream inside an intact chunk structure
    scan = _filter_scanlines(rgb, h, w * 3, 3, 0)
    bad_idat = bytes(64)
    corrupt = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", bad_idat)
        + _chunk(b"IEND", b"")
    )
    assert decode_png(corrupt) is None
    # inflated data shorter than h scanlines
    short = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(scan[: len(scan) // 2]))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(short) is None
    assert decode_png(b"JFIF....") is None
    assert decode_png(b"") is None


def test_phash_is_format_invariant():
    """A PPM and a PNG of the SAME pixels hash identically, and a PNG
    re-encode of a planted near-duplicate pairs with the PPM base at
    the same hamming distance — re-encoded copies are the classic
    crawl-dedup case md5 can never catch."""
    from travel_data_ingestion_spark.queries.llm_multimodal import (
        planted_ppm_media,
    )

    from travel_data_ingestion_spark.llm.multimodal import decode_ppm

    for _mid, ppm in planted_ppm_media():
        w, h, px = decode_ppm(ppm)
        assert phash_bytes(encode_png(w, h, px)) == phash_bytes(ppm)


def test_extract_features_parses_png_headers(spark):
    from travel_data_ingestion_spark.llm.multimodal import extract_features

    rgb = _rand_px(21, 10 * 6 * 3)
    png = encode_png(10, 6, rgb)
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"opaque"))],
        "media_id long, payload binary",
    )
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert (feats[1].width, feats[1].height) == (10, 6)  # real IHDR parse
    assert feats[1].n_bytes == len(png)
    # opaque bytes keep the documented digest-derived stub dims
    assert 64 <= feats[2].width < 256


def _expected_rgb(color: int, raw: bytes, w: int, h: int) -> bytes:
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    a = np.frombuffer(raw, np.uint8).reshape(h, w, ch)
    if color == 0:
        return np.repeat(a, 3, axis=2).tobytes()
    if color == 4:
        return np.repeat(a[:, :, :1], 3, axis=2).tobytes()
    if color == 6:
        return np.ascontiguousarray(a[:, :, :3]).tobytes()
    return raw


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=4),
    st.sampled_from([0, 2, 4, 6]),
    st.integers(min_value=0, max_value=999),
)
def test_png_roundtrip_property(w, h, ftype, color, seed):
    """Every (dims, filter, color type) combination decodes back to the
    exact source pixels, RGB-normalized."""
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    raw = _rand_px(seed, w * h * ch)
    dec = decode_png(_png(w, h, color, raw, ftype=ftype))
    assert dec == (w, h, _expected_rgb(color, raw, w, h))


def test_png_decode_bombs_are_bounded(monkeypatch):
    """Untrusted-payload hardening: a deflate bomb inflates only to the
    bytes the header needs, and a dims bomb (huge IHDR) returns None
    before allocating anything."""
    import travel_data_ingestion_spark.llm.multimodal as mm

    # deflate bomb: 64 MB of zeros compressed into a ~64 KB IDAT behind
    # an honest 4x4 header — decodes from the first scanline bytes, the
    # rest never materializes (incremental inflate stops at `needed`)
    scan = b"\x00" * (4 * 13)  # 4 scanlines of filter-0 zeros... padded
    bomb_scan = scan + b"\x00" * (64 << 20)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bomb_scan))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(bomb) == (4, 4, b"\x00" * 48)
    # dims bomb: 30000x30000 RGB wants ~2.7 GB -> over the cap -> None
    huge = struct.pack(">IIBBBBB", 30000, 30000, 8, 2, 0, 0, 0)
    assert (
        decode_png(
            PNG_SIGNATURE
            + _chunk(b"IHDR", huge)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + _chunk(b"IEND", b"")
        )
        is None
    )
    # the cap itself is honored (shrunk, a legitimate image trips it)
    monkeypatch.setattr(mm, "MAX_DECODE_BYTES", 10)
    assert decode_png(encode_png(4, 4, bytes(48))) is None


def test_decode_png_adversarial_bytes_never_raise():
    """Totality on hostile input (the decode-ppm/wav property-test
    contract): every mutation either decodes or returns None."""
    rng = np.random.RandomState(77)
    base = encode_png(5, 4, _rand_px(13, 60))
    for _ in range(300):
        b = bytearray(base)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        r = decode_png(bytes(b))
        # a mutated IHDR may still decode at different dims; the
        # contract is totality + a consistent (w, h, rgb) triple
        assert r is None or len(r[2]) == r[0] * r[1] * 3
    for n in (0, 1, 8, 20, 50):
        assert decode_png(bytes(rng.randint(0, 256, n).astype("uint8"))) is None

def _pack_rows(samples: np.ndarray, depth: int):
    """Independent forward packer (RFC 2083 image layout): (h, w, ch)
    integer samples -> packed scanline bytes + stride. MSB-first bit
    packing for sub-byte depths, big-endian for 16-bit, each row padded
    to a whole byte — written from the spec, not from the decoder."""
    h, w, ch = samples.shape
    rows = []
    for y in range(h):
        flat = samples[y].reshape(-1)
        if depth == 8:
            rows.append(flat.astype(np.uint8).tobytes())
        elif depth == 16:
            rows.append(flat.astype(">u2").tobytes())
        else:
            bits = []
            for v in flat:
                for j in range(depth - 1, -1, -1):
                    bits.append((int(v) >> j) & 1)
            while len(bits) % 8:
                bits.append(0)
            rows.append(np.packbits(np.array(bits, dtype=np.uint8)).tobytes())
    return b"".join(rows), (len(rows[0]) if rows else 0)


_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)

_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_ex(
    samples: np.ndarray,
    color: int,
    depth: int,
    ftype: int = 0,
    interlace: int = 0,
    plte: np.ndarray | None = None,
) -> bytes:
    """Forward encoder covering every legal (color, depth, interlace)
    combination, including Adam7 pass extraction."""
    h, w, ch = samples.shape
    assert ch == _CH[color]
    bpp = max(1, ch * depth // 8)
    if interlace == 0:
        packed, stride = _pack_rows(samples, depth)
        scan = _filter_packed(packed, h, stride, bpp, ftype)
    else:
        scan = b""
        for x0, y0, xs, ys in _ADAM7:
            sub = samples[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            packed, stride = _pack_rows(sub, depth)
            scan += _filter_packed(packed, sub.shape[0], stride, bpp, ftype)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    parts = [PNG_SIGNATURE, _chunk(b"IHDR", ihdr)]
    if plte is not None:
        parts.append(_chunk(b"PLTE", plte.astype(np.uint8).tobytes()))
    parts.append(_chunk(b"IDAT", zlib.compress(scan)))
    parts.append(_chunk(b"IEND", b""))
    return b"".join(parts)


def _filter_packed(packed: bytes, h: int, stride: int, bpp: int, ftype: int) -> bytes:
    """_filter_scanlines over already-packed rows (it operates on raw
    bytes, so it generalizes to every depth unchanged)."""
    return _filter_scanlines(packed, h, stride, bpp, ftype)


def _expected_rgb_ex(samples: np.ndarray, color: int, depth: int, plte=None) -> bytes:
    """Independent expected-output computation for the extended matrix."""
    if color == 3:
        return np.ascontiguousarray(plte[samples[:, :, 0]]).astype(np.uint8).tobytes()
    if depth == 16:
        v = (samples.astype(np.uint32) * 255 + 32767) // 65535
    elif depth < 8:
        v = samples.astype(np.uint32) * (255 // ((1 << depth) - 1))
    else:
        v = samples.astype(np.uint32)
    v = v.astype(np.uint8)
    if color == 0:
        return np.repeat(v, 3, axis=2).tobytes()
    if color == 4:
        return np.repeat(v[:, :, :1], 3, axis=2).tobytes()
    if color == 6:
        return np.ascontiguousarray(v[:, :, :3]).tobytes()
    return np.ascontiguousarray(v).tobytes()


_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def test_adam7_passes_partition_the_grid():
    """The seven Adam7 passes cover every pixel of any grid exactly
    once — the scatter in decode_png relies on this."""
    for w, h in [(1, 1), (7, 5), (8, 8), (13, 11), (16, 16), (3, 9)]:
        m = np.zeros((h, w), int)
        for x0, y0, xs, ys in _ADAM7:
            m[y0::ys, x0::xs] += 1
        assert (m == 1).all(), (w, h)


def test_every_legal_depth_color_interlace_combo_decodes():
    """Full matrix: every (color type, legal depth) x interlace x a
    sampled filter decodes back to the exact RGB-normalized source —
    cross-checked against the independent forward packer/filterer."""
    rng = np.random.RandomState(42)
    for color, depths in _DEPTHS.items():
        for depth in depths:
            for (w, h), ilace in [((7, 5), 0), ((7, 5), 1), ((16, 4), 1), ((1, 1), 0), ((8, 8), 1)]:
                ch = _CH[color]
                hi = (1 << depth) if color != 3 else min(1 << depth, 11)
                samples = rng.randint(0, hi, (h, w, ch))
                plte = rng.randint(0, 256, (11, 3)) if color == 3 else None
                ftype = int(rng.randint(0, 5))
                png = _png_ex(samples, color, depth, ftype=ftype, interlace=ilace, plte=plte)
                got = decode_png(png)
                want = (w, h, _expected_rgb_ex(samples, color, depth, plte))
                assert got == want, (color, depth, w, h, ftype, ilace)


def test_interlaced_phash_matches_noninterlaced():
    """Interlacing is a transport detail: the same pixels hash
    identically whichever layout carried them."""
    rng = np.random.RandomState(9)
    samples = rng.randint(0, 256, (16, 16, 3))
    flat = _png_ex(samples, 2, 8, ftype=0, interlace=0)
    adam = _png_ex(samples, 2, 8, ftype=2, interlace=1)
    assert phash_bytes(flat) == phash_bytes(adam)


def test_malformed_extended_streams_rejected():
    rng = np.random.RandomState(4)
    samples = rng.randint(0, 4, (4, 4, 1))
    plte = rng.randint(0, 256, (4, 3))
    good = _png_ex(samples, 3, 2, plte=plte)
    assert decode_png(good) is not None
    # palette index out of range: malformed, not gated
    oob = _png_ex(np.full((4, 4, 1), 3), 3, 2, plte=rng.randint(0, 256, (2, 3)))
    assert decode_png(oob) is None
    # palette stream with no PLTE chunk at all
    assert decode_png(_png_ex(samples, 3, 2, plte=None)) is None
    # illegal depth/color combos and header values (spec violations);
    # IHDR body at byte 16: w(16-19) h(20-23) depth@24 color@25
    # comp@26 filt@27 interlace@28
    rgb = rng.randint(0, 256, (4, 4, 3))
    rgb16 = rng.randint(0, 1 << 16, (4, 4, 3))
    bad = bytearray(_png_ex(rgb16, 2, 16))
    bad[25] = 3  # depth-16 palette: illegal combo
    assert decode_png(bytes(bad)) is None
    bad2 = bytearray(_png_ex(rgb, 2, 8))
    bad2[24] = 0  # depth 0: illegal everywhere
    assert decode_png(bytes(bad2)) is None
    bad3 = bytearray(_png_ex(rgb, 2, 8))
    bad3[28] = 2  # interlace method 2: not a thing
    assert decode_png(bytes(bad3)) is None


_REAL_PNGS = [
    # (path, width, height) — files shipped by system packages, written
    # by real encoders; exercises palette (8- and 2-bit) and alpha
    ("/usr/share/gitweb/static/git-favicon.png", 16, 16),
    ("/usr/share/gitweb/static/git-logo.png", 72, 27),
    ("/usr/share/doc/python3/_static/file.png", 16, 16),
    ("/usr/share/doc/python3/_static/minus.png", 11, 11),
]


@pytest.mark.parametrize("path,w,h", _REAL_PNGS)
def test_real_world_png_interop(path, w, h):
    import os

    if not os.path.exists(path):
        pytest.skip(f"interop fixture not on this machine: {path}")
    r = decode_png(open(path, "rb").read())
    assert r is not None and (r[0], r[1]) == (w, h)
    assert len(r[2]) == w * h * 3
