"""Pure stdlib+numpy baseline JPEG decode.

decode_jpeg covers Huffman DCT JPEG, both baseline sequential
(SOF0/SOF1) and progressive (SOF2 — spectral selection + successive
approximation with DC and AC refinement): 8-bit samples, grayscale or
YCbCr, sampling factors 1-2, restart markers, 0xFF byte stuffing,
16-bit quant tables. Arithmetic-coded / lossless / hierarchical
streams stay honestly gated (None -> opaque stub path). Because JPEG
is lossy there is no bit-exact round-trip against PIXELS; these tests
cross-check against an INDEPENDENT forward encoder written from ITU-T
T.81 Annex F/G/K with measured error bounds, pin exactness where the
math IS exact (flat image; and progressive re-encodings of IDENTICAL
quantized coefficients must decode bit-identically to the baseline
encoding — the strongest check in the file), and decode real-world
JPEGs from other encoders (including libjpeg progressive scan
scripts) where the container files exist.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from travel_data_ingestion_spark.llm.multimodal import (
    decode_image,
    decode_jpeg,
    phash_bytes,
)

# ---------------------------------------------------------------- forward
# Independent spec-side encoder (ITU-T T.81), NOT derived from the decoder.

_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_m():
    n = 8
    m = np.zeros((n, n))
    for k in range(n):
        for x in range(n):
            m[k, x] = np.cos((2 * x + 1) * k * np.pi / (2 * n)) * (
                np.sqrt(1 / n) if k == 0 else np.sqrt(2 / n)
            )
    return m


_M = _dct_m()


def _codes(counts, symbols):
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _category(v):
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s


def _scale_qt(base, quality):
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.array(
        [max(1, min(255, (x * scale + 50) // 100)) for x in base], dtype=np.int32
    )


def _encode_block(bw, block, qnat, codes_dc, codes_ac, pred):
    coef = _M @ (block.astype(np.float64) - 128.0) @ _M.T
    zz = np.round(coef / qnat).astype(np.int32).reshape(-1)[_ZZ]
    diff = int(zz[0]) - pred
    s = _category(diff)
    c, ln = codes_dc[s]
    bw.put(c, ln)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = codes_ac[0xF0]
            bw.put(c, ln)
            run -= 16
        s = _category(v)
        c, ln = codes_ac[(run << 4) | s]
        bw.put(c, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        c, ln = codes_ac[0x00]
        bw.put(c, ln)
    return int(zz[0])


def encode_jpeg(rgb, quality=90, subsample="444", grayscale=False, restart_interval=0):
    """Forward baseline JPEG encoder (test oracle)."""
    h, w = rgb.shape[:2]
    qly = _scale_qt(_QT_LUMA, quality).reshape(8, 8).astype(np.float64)
    qlc = _scale_qt(_QT_CHROMA, quality).reshape(8, 8).astype(np.float64)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(qly.reshape(-1)[_ZZ][i]) for i in range(64)))
    if not grayscale:
        out += seg(
            0xDB, bytes([1]) + bytes(int(qlc.reshape(-1)[_ZZ][i]) for i in range(64))
        )
    if grayscale:
        comps = [(1, 1, 1, 0)]
    elif subsample == "420":
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    elif subsample == "422":
        comps = [(1, 2, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    else:
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += seg(0xC0, sof)
    for tc_th, (counts, syms) in [(0x00, _DC_LUMA), (0x10, _AC_LUMA)] + (
        [] if grayscale else [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(counts) + bytes(syms))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for cid, _hs, _vs, tq in comps:
        sos += bytes([cid, 0x00 if tq == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    px = rgb.astype(np.float64)
    if grayscale:
        planes = [px[:, :, 0]]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    sampled = []
    for ci, (_cid, hs, vs, _tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax or vs != vmax:
            fy, fx = vmax // vs, hmax // hs
            hh, ww = (h + fy - 1) // fy, (w + fx - 1) // fx
            pad = np.pad(p, ((0, hh * fy - h), (0, ww * fx - w)), mode="edge")
            p = pad.reshape(hh, fy, ww, fx).mean(axis=(1, 3))
        th, tw = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        sampled.append(p)
    luma = (_codes(*_DC_LUMA), _codes(*_AC_LUMA))
    chroma = (_codes(*_DC_CHROMA), _codes(*_AC_CHROMA))
    bw = _BitWriter()
    pred = [0] * len(comps)
    count = rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and count and count % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = [0] * len(comps)
            count += 1
            for ci, (_cid, hs, vs, tq) in enumerate(comps):
                qn = qly if tq == 0 else qlc
                cdc, cac = luma if tq == 0 else chroma
                for by in range(vs):
                    for bx in range(hs):
                        y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                        pred[ci] = _encode_block(
                            bw, sampled[ci][y0 : y0 + 8, x0 : x0 + 8], qn, cdc, cac, pred[ci]
                        )
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------------ tests


def _smooth(w, h, seed):
    """Low-frequency test image: JPEG-representable, so round-trip error
    bounds stay tight and deterministic."""
    r = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3))
    for c in range(3):
        a, b, ph = r.uniform(30, 100), r.uniform(0.02, 0.2, 2), r.uniform(0, 6)
        img[:, :, c] = 128 + a * np.sin(b[0] * xx + b[1] * yy + ph)
    return np.clip(img, 0, 255).astype(np.uint8)


def _decode_err(img, payload, grayscale=False):
    got = decode_jpeg(payload)
    assert got is not None
    h, w = img.shape[:2]
    assert (got[0], got[1]) == (w, h)
    dec = np.frombuffer(got[2], np.uint8).reshape(h, w, 3).astype(np.int32)
    ref = (
        np.repeat(img[:, :, :1], 3, axis=2) if grayscale else img
    ).astype(np.int32)
    err = np.abs(dec - ref)
    return err.max(), err.mean()


def test_444_roundtrip_bounds():
    for w, h in [(8, 8), (16, 16), (24, 17), (7, 5), (33, 9)]:
        img = _smooth(w, h, w * 100 + h)
        mx, mean = _decode_err(img, encode_jpeg(img, quality=95))
        assert mx <= 12 and mean <= 3.0, (w, h, mx, mean)


def test_420_and_422_roundtrip_bounds():
    img = _smooth(24, 17, 3)
    mx, mean = _decode_err(img, encode_jpeg(img, quality=95, subsample="420"))
    assert mx <= 25 and mean <= 5.0
    mx, mean = _decode_err(img, encode_jpeg(img, quality=95, subsample="422"))
    assert mx <= 25 and mean <= 5.0


def test_grayscale_roundtrip_tight():
    img = _smooth(16, 16, 9)
    mx, mean = _decode_err(img, encode_jpeg(img, quality=95, grayscale=True), grayscale=True)
    assert mx <= 3 and mean <= 1.0


def test_flat_image_q100_exact():
    """With a flat image every AC coefficient is exactly 0 and the DC is
    exactly representable: decode must be bit-exact — the one place the
    lossy format admits an exactness pin."""
    flat = np.full((16, 16, 3), 77, np.uint8)
    got = decode_jpeg(encode_jpeg(flat, quality=100))
    assert got == (16, 16, flat.tobytes())


def test_restart_markers_and_dri():
    img = _smooth(32, 32, 5)
    for subsample, dri in [("444", 2), ("420", 3), ("444", 1)]:
        payload = encode_jpeg(img, quality=95, subsample=subsample, restart_interval=dri)
        assert b"\xff\xd0" in payload or b"\xff\xd1" in payload
        mx, mean = _decode_err(img, payload)
        assert mx <= 25 and mean <= 5.0, (subsample, dri, mx, mean)


def test_gated_and_malformed_rejected():
    img = _smooth(16, 16, 1)
    base = encode_jpeg(img, quality=95)
    i = base.index(b"\xff\xc0")
    # SOF0 -> SOF2: the unified scan path decodes a whole-band scan
    # identically whichever frame marker announced it
    relabeled = base[:i] + b"\xff\xc2" + base[i + 2 :]
    assert decode_jpeg(relabeled) == decode_jpeg(base)
    # SOF3 (lossless): honestly gated. (SOF9/SOF10 arithmetic now
    # decode for real — tests/test_jpeg_arith.py; relabeling HUFFMAN
    # entropy data as arithmetic is undefined-but-total: the QM decoder
    # either desyncs to None or yields garbage coefficients, never
    # raises — covered by the adversarial lane.)
    lossless = base[:i] + b"\xff\xc3" + base[i + 2 :]
    assert decode_jpeg(lossless) is None
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None
    assert decode_jpeg(base[: len(base) // 3]) is None or True  # truncation: total
    assert decode_jpeg(b"P6\n1 1\n255\nabc") is None


def test_dims_bomb_rejected():
    """A tiny payload claiming huge dimensions must die at the size cap,
    not loop for minutes over empty MCUs."""
    img = _smooth(8, 8, 2)
    base = bytearray(encode_jpeg(img, quality=95))
    i = bytes(base).index(b"\xff\xc0")
    # SOF body: len(2) prec(1) h(2) w(2) -> patch h and w to 30000
    struct.pack_into(">HH", base, i + 5, 30000, 30000)
    assert decode_jpeg(bytes(base)) is None


def test_truncated_entropy_data_terminates():
    """Cutting the scan mid-stream must return None (or a total decode)
    quickly — the synthetic-fill cap stops zero-bit freewheeling."""
    img = _smooth(64, 64, 4)
    payload = encode_jpeg(img, quality=95)
    sos = payload.index(b"\xff\xda")
    for cut in (sos + 20, sos + 100, len(payload) - 40):
        r = decode_jpeg(payload[:cut])
        assert r is None or len(r[2]) == r[0] * r[1] * 3


def test_adversarial_bytes_never_raise():
    rng = np.random.RandomState(77)
    base = encode_jpeg(_smooth(10, 10, 3), quality=90)
    for _ in range(300):
        b = bytearray(base)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        r = decode_jpeg(bytes(b))
        assert r is None or len(r[2]) == r[0] * r[1] * 3
    for n in (0, 1, 8, 20, 50):
        assert decode_jpeg(bytes(rng.randint(0, 256, n).astype("uint8"))) is None


def test_phash_tracks_jpeg_reencode():
    """A JPEG re-encode of the same pixels lands within a few pHash bits
    of the source (measured: <=4 at q95 4:4:4 on smooth images) — the
    crawl-dedup case where a byte digest can never match."""
    img = _smooth(48, 40, 0)
    ppm = b"P6\n48 40\n255\n" + img.tobytes()
    j = encode_jpeg(img, quality=95)
    d = bin((phash_bytes(ppm) ^ phash_bytes(j)) & ((1 << 64) - 1)).count("1")
    assert d <= 4, d


def test_decode_image_routes_jpeg():
    img = _smooth(12, 10, 8)
    got = decode_image(encode_jpeg(img, quality=95))
    assert got is not None and (got[0], got[1]) == (12, 10)


@pytest.mark.parametrize(
    "path,expect_dims",
    [
        (
            "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/python.jpg",
            (16, 16),
        ),
        (
            "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/rust/"
            "html/embedded-book/assets/verify.jpeg",
            (720, 477),
        ),
    ],
)
def test_real_world_jpeg_interop(path, expect_dims):
    """Files produced by REAL encoders (not the test oracle above):
    marker layout, stuffing, and entropy data from the wild must decode
    to the dimensions the file states."""
    if not os.path.exists(path):
        pytest.skip(f"interop fixture not on this machine: {path}")
    r = decode_jpeg(open(path, "rb").read())
    assert r is not None and (r[0], r[1]) == expect_dims
    a = np.frombuffer(r[2], np.uint8)
    assert 10 < a.mean() < 245  # decoded something image-like, not noise


# ------------------------------------------------- progressive forward
# Independent progressive encoder (T.81 Annex G encode procedures, the
# correction-bit buffering discipline of libjpeg's jcphuff): emits the
# SAME quantized coefficients as the baseline encoder through a
# multi-scan script, so decode must be BIT-IDENTICAL to the baseline
# decode — no error bounds, exact equality.


def _coef_grids(rgb, quality, subsample="444", grayscale=False):
    """Quantized zigzag coefficient grids per component (MCU-padded),
    mirroring encode_jpeg's sampling/FDCT/quant exactly."""
    h, w = rgb.shape[:2]
    qly = _scale_qt(_QT_LUMA, quality).reshape(8, 8).astype(np.float64)
    qlc = _scale_qt(_QT_CHROMA, quality).reshape(8, 8).astype(np.float64)
    if grayscale:
        comps = [(1, 1, 1, 0)]
    elif subsample == "420":
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    elif subsample == "422":
        comps = [(1, 2, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    else:
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    px = rgb.astype(np.float64)
    if grayscale:
        planes = [px[:, :, 0]]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    grids = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax or vs != vmax:
            fy, fx = vmax // vs, hmax // hs
            hh, ww = (h + fy - 1) // fy, (w + fx - 1) // fx
            pad = np.pad(p, ((0, hh * fy - h), (0, ww * fx - w)), mode="edge")
            p = pad.reshape(hh, fy, ww, fx).mean(axis=(1, 3))
        th, tw = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        qn = qly if tq == 0 else qlc
        grid = np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
        for by in range(mcuy * vs):
            for bx in range(mcux * hs):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _M @ (block - 128.0) @ _M.T
                grid[by, bx] = np.round(coef / qn).astype(np.int32).reshape(-1)[_ZZ]
        grids.append(grid)
    return comps, grids, mcux, mcuy, (qly, qlc), (hmax, vmax, w, h)


def _emit_dc_first(bw, comps, grids, mcux, mcuy, al, codes):
    pred = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_cid, hs, vs, tq) in enumerate(comps):
                cdc = codes[0] if tq == 0 else codes[1]
                for by in range(vs):
                    for bx in range(hs):
                        v = int(grids[ci][my * vs + by, mx * hs + bx, 0]) >> al
                        diff = v - pred[ci]
                        pred[ci] = v
                        s = _category(diff)
                        c, ln = cdc[s]
                        bw.put(c, ln)
                        if s:
                            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)


def _emit_dc_refine(bw, comps, grids, mcux, mcuy, al):
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_cid, hs, vs, _tq) in enumerate(comps):
                for by in range(vs):
                    for bx in range(hs):
                        bw.put((int(grids[ci][my * vs + by, mx * hs + bx, 0]) >> al) & 1, 1)


def _comp_grid_dims(comp, hmax, vmax, w, h):
    _cid, hs, vs, _tq = comp
    cw = ((w * hs + hmax - 1) // hmax + 7) // 8
    chh = ((h * vs + vmax - 1) // vmax + 7) // 8
    return chh, cw


def _emit_ac_first(bw, grid, chh, cw, ss, se, al, cac):
    for by in range(chh):
        for bx in range(cw):
            zz = grid[by, bx]
            r = 0
            for k in range(ss, se + 1):
                v = int(zz[k])
                t = (abs(v) >> al) * (1 if v >= 0 else -1)
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    c, ln = cac[0xF0]
                    bw.put(c, ln)
                    r -= 16
                s = _category(t)
                c, ln = cac[(r << 4) | s]
                bw.put(c, ln)
                bw.put(t if t >= 0 else t + (1 << s) - 1, s)
                r = 0
            if r:
                c, ln = cac[0x00]  # EOB (run of exactly 1)
                bw.put(c, ln)


def _emit_ac_refine(bw, grid, chh, cw, ss, se, ah, al, cac):
    """The jcphuff correction-bit discipline: buffered correction bits
    flush right after each emitted symbol, and the r>15 ZRL check runs
    at EVERY nonzero (correction positions included) so a buffered bit
    never positionally outruns the ZRL that must precede it."""
    for by in range(chh):
        for bx in range(cw):
            zz = grid[by, bx]
            # last newly-significant position: ZRLs beyond it fold into EOB
            last_new = -1
            for k in range(ss, se + 1):
                v = int(zz[k])
                if (abs(v) >> ah) == 0 and (abs(v) >> al) != 0:
                    last_new = k
            r = 0
            pending = []
            for k in range(ss, se + 1):
                v = int(zz[k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= last_new:
                    c, ln = cac[0xF0]
                    bw.put(c, ln)
                    r -= 16
                    for bit in pending:
                        bw.put(bit, 1)
                    pending = []
                if (abs(v) >> ah) != 0:  # history nonzero: correction bit
                    pending.append(t & 1)
                    continue
                # newly significant (t must be 1 at this precision)
                c, ln = cac[(r << 4) | 1]
                bw.put(c, ln)
                bw.put(1 if v >= 0 else 0, 1)
                for bit in pending:
                    bw.put(bit, 1)
                pending = []
                r = 0
            if r or pending:
                c, ln = cac[0x00]  # EOB; decoder then reads the tail bits
                bw.put(c, ln)
                for bit in pending:
                    bw.put(bit, 1)


def encode_jpeg_progressive(rgb, quality=90, subsample="444", grayscale=False, script=None):
    """Progressive encoding of the SAME coefficients encode_jpeg would
    emit. script entries: ('dc', ah, al) — interleaved over all
    components — or ('ac', ci, ss, se, ah, al). Default script uses
    spectral selection AND successive approximation on both DC and AC."""
    h, w = rgb.shape[:2]
    comps, grids, mcux, mcuy, (qly, qlc), (hmax, vmax, _w, _h) = _coef_grids(
        rgb, quality, subsample, grayscale
    )
    if script is None:
        script = [("dc", 0, 1), ("dc", 1, 0)]
        for ci in range(len(comps)):
            script += [("ac", ci, 1, 5, 0, 1), ("ac", ci, 6, 63, 0, 1), ("ac", ci, 1, 63, 1, 0)]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(qly.reshape(-1)[_ZZ][i]) for i in range(64)))
    if not grayscale:
        out += seg(0xDB, bytes([1]) + bytes(int(qlc.reshape(-1)[_ZZ][i]) for i in range(64)))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += seg(0xC2, sof)  # SOF2: progressive
    for tc_th, (counts, syms) in [(0x00, _DC_LUMA), (0x10, _AC_LUMA)] + (
        [] if grayscale else [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(counts) + bytes(syms))
    dc_codes = (_codes(*_DC_LUMA), _codes(*_DC_CHROMA))
    ac_luma, ac_chroma = _codes(*_AC_LUMA), _codes(*_AC_CHROMA)
    for entry in script:
        bw = _BitWriter()
        if entry[0] == "dc":
            _ah, _al = entry[1], entry[2]
            sos = bytes([len(comps)])
            for cid, _hs, _vs, tq in comps:
                sos += bytes([cid, 0x00 if tq == 0 else 0x10])  # Td only
            sos += bytes([0, 0, (_ah << 4) | _al])
            out += seg(0xDA, sos)
            if _ah == 0:
                _emit_dc_first(bw, comps, grids, mcux, mcuy, _al, dc_codes)
            else:
                _emit_dc_refine(bw, comps, grids, mcux, mcuy, _al)
        else:
            _kind, ci, ss, se, _ah, _al = entry
            cid, _hs, _vs, tq = comps[ci]
            cac = ac_luma if tq == 0 else ac_chroma
            sos = bytes([1, cid, 0x00 if tq == 0 else 0x11, ss, se, (_ah << 4) | _al])
            out += seg(0xDA, sos)
            chh, cw = _comp_grid_dims(comps[ci], hmax, vmax, w, h)
            if _ah == 0:
                _emit_ac_first(bw, grids[ci], chh, cw, ss, se, _al, cac)
            else:
                _emit_ac_refine(bw, grids[ci], chh, cw, ss, se, _ah, _al, cac)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_decodes_bit_identical_to_baseline():
    """The strongest JPEG check here: a progressive multi-scan encoding
    of the SAME quantized coefficients must decode to EXACTLY the same
    pixels as the baseline encoding — spectral selection, DC and AC
    successive approximation, refinement correction bits and EOB tails
    all have to be read perfectly for equality to hold."""
    for (w, h), subsample, gray in [
        ((16, 16), "444", False),
        ((24, 17), "444", False),
        ((24, 17), "420", False),
        ((33, 9), "422", False),
        ((16, 16), "444", True),
    ]:
        img = _smooth(w, h, w + h)
        base = decode_jpeg(encode_jpeg(img, quality=90, subsample=subsample, grayscale=gray))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quality=90, subsample=subsample, grayscale=gray)
        )
        assert base is not None and prog == base, (w, h, subsample, gray)


def test_progressive_spectral_only_and_deep_refinement_scripts():
    """Alternative scan scripts: spectral-selection-only, and a 3-level
    successive approximation ladder — all bit-identical to baseline."""
    img = _smooth(24, 16, 7)
    base = decode_jpeg(encode_jpeg(img, quality=85))
    spectral = [("dc", 0, 0)]
    for ci in range(3):
        spectral += [("ac", ci, 1, 2, 0, 0), ("ac", ci, 3, 20, 0, 0), ("ac", ci, 21, 63, 0, 0)]
    assert decode_jpeg(encode_jpeg_progressive(img, quality=85, script=spectral)) == base
    ladder = [("dc", 0, 2), ("dc", 2, 1), ("dc", 1, 0)]
    for ci in range(3):
        ladder += [
            ("ac", ci, 1, 63, 0, 2),
            ("ac", ci, 1, 63, 2, 1),
            ("ac", ci, 1, 63, 1, 0),
        ]
    assert decode_jpeg(encode_jpeg_progressive(img, quality=85, script=ladder)) == base


def test_progressive_noise_image_bit_identical():
    """High-frequency noise maximizes ZRL/EOB-run/correction-bit
    interleavings — the hard cases for the refinement bitstream."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    for q in (50, 85, 95):
        base = decode_jpeg(encode_jpeg(img, quality=q))
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=q))
        assert base is not None and prog == base, q


def test_real_world_progressive_interop():
    """libjpeg-scripted progressive files from system packages decode
    with correct dimensions and image-like statistics."""
    cases = [
        (
            "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/rust/"
            "html/embedded-book/assets/f3.jpg",
            (720, 477),
        ),
        ("/usr/share/doc/nodejs/thin-white-stripe.jpg", (493, 58)),
    ]
    ran = 0
    for path, dims in cases:
        if not os.path.exists(path):
            continue
        r = decode_jpeg(open(path, "rb").read())
        assert r is not None and (r[0], r[1]) == dims, path
        a = np.frombuffer(r[2], np.uint8)
        assert 10 < a.mean() < 245 and a.std() > 5, path
        ran += 1
    if not ran:
        pytest.skip("no progressive interop fixtures on this machine")


def test_progressive_adversarial_bytes_never_raise():
    rng = np.random.RandomState(99)
    base = encode_jpeg_progressive(_smooth(12, 10, 5), quality=90)
    for _ in range(300):
        b = bytearray(base)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        r = decode_jpeg(bytes(b))
        assert r is None or len(r[2]) == r[0] * r[1] * 3
