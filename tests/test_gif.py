"""Pure-Python GIF decode (LZW + compositing) and real frame sampling.

decode_gif is checked against an INDEPENDENT in-test GIF writer: a
real forward LZW compressor (dictionary-based, variable code widths)
plus a literal-code emitter, both written from the GIF89a spec — so
the decoder's width-growth, clear-code, and KwKwK branches are all
exercised by a second implementation. Compositing (partial frames,
transparency, all four disposal methods, interlacing) is pinned
against hand-built numpy canvases, and sample_frames runs the full
Spark path: animated GIF -> sampled PPM frames -> format-invariant
pHash pairing across containers.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from travel_data_ingestion_spark.llm.multimodal import (
    decode_gif,
    decode_image,
    phash_bytes,
    sample_frames,
)


class _Bits:
    """LSB-first bit packer (GIF's LZW bit order)."""

    def __init__(self):
        self.acc, self.n, self.out = 0, 0, bytearray()

    def emit(self, code: int, size: int):
        self.acc |= code << self.n
        self.n += size
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(indices: bytes, min_code: int, compress: bool = True) -> bytes:
    """Forward GIF LZW, independent of the decoder under test. With
    compress=False every pixel is a literal code (table still grows on
    the decoder side, so code widths must track it identically)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    bits = _Bits()
    code_size = min_code + 1
    bits.emit(clear, code_size)
    if compress:
        dict_ = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        w = b""
        for b in indices:
            nxt = w + bytes([b])
            if nxt in dict_:
                w = nxt
                continue
            bits.emit(dict_[w], code_size)
            dict_[nxt] = next_code
            next_code += 1
            # decoder grows width when its table length REACHES
            # 1<<code_size after the append that mirrors this insert
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
            if next_code > 4094:  # keep clear of the 12-bit ceiling
                bits.emit(clear, code_size)
                dict_ = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                code_size = min_code + 1
            w = bytes([b])
        if w:
            bits.emit(dict_[w], code_size)
    else:
        table_len = clear + 2
        for k, b in enumerate(indices):
            bits.emit(b, code_size)
            if k >= 1:  # decoder appends from the 2nd post-clear code on
                table_len += 1
                if table_len == (1 << code_size) and code_size < 12:
                    code_size += 1
    bits.emit(eoi, code_size)
    return bits.done()


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif(
    w: int,
    h: int,
    palette: np.ndarray,
    frames: list[dict],
    bg: int = 0,
    compress: bool = True,
) -> bytes:
    """Build a GIF89a: frames are dicts with keys idx (2-D index
    array), left/top, transparent (index|None), disposal, interlace,
    local_palette (array|None)."""

    def _pal_block(pal: np.ndarray) -> tuple[bytes, int]:
        n = len(pal)
        bits_needed = max(1, (n - 1).bit_length())
        full = 2 << (bits_needed - 1)
        padded = np.zeros((full, 3), np.uint8)
        padded[:n] = pal
        return padded.tobytes(), bits_needed - 1

    gct_bytes, gct_bits = _pal_block(palette)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | gct_bits, bg, 0)
    out += gct_bytes
    for fr in frames:
        idx = np.asarray(fr["idx"], np.uint8)
        ih, iw = idx.shape
        transparent = fr.get("transparent")
        disposal = fr.get("disposal", 0)
        if transparent is not None or disposal:
            gflags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
            out += bytes([0x21, 0xF9, 4, gflags, 0, 0, transparent or 0, 0])
        lp = fr.get("local_palette")
        iflags = 0x40 if fr.get("interlace") else 0
        lct_bytes = b""
        if lp is not None:
            lct_bytes, lct_bits = _pal_block(lp)
            iflags |= 0x80 | lct_bits
        out += bytes([0x2C]) + struct.pack(
            "<HHHHB", fr.get("left", 0), fr.get("top", 0), iw, ih, iflags
        )
        out += lct_bytes
        pal_n = len(lp) if lp is not None else len(palette)
        min_code = max(2, (pal_n - 1).bit_length())
        raw = idx
        if fr.get("interlace"):
            order = (
                list(range(0, ih, 8))
                + list(range(4, ih, 8))
                + list(range(2, ih, 4))
                + list(range(1, ih, 2))
            )
            raw = idx[order]
        out += bytes([min_code])
        out += _sub_blocks(_lzw_encode(raw.tobytes(), min_code, compress=compress))
    out += bytes([0x3B])
    return bytes(out)


def _pal(n: int, seed: int = 4) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (n, 3)).astype(np.uint8)


def test_single_frame_roundtrip_compressed_and_literal():
    pal = _pal(8)
    idx = np.random.RandomState(1).randint(0, 8, (7, 9)).astype(np.uint8)
    expect = pal[idx].tobytes()
    for compress in (True, False):
        dec = decode_gif(_gif(9, 7, pal, [{"idx": idx}], compress=compress))
        assert dec is not None
        w, h, frames = dec
        assert (w, h, len(frames)) == (9, 7, 1)
        assert frames[0] == expect


def test_lzw_width_growth_on_large_palette():
    """256-color palette forces 9..12-bit code widths through the real
    compressor path (KwKwK cases included via repetitive data)."""
    pal = _pal(256, seed=9)
    rng = np.random.RandomState(2)
    # repetitive + noisy: exercises dictionary hits and growth
    idx = np.tile(rng.randint(0, 256, (8, 64)).astype(np.uint8), (8, 1))
    dec = decode_gif(_gif(64, 64, pal, [{"idx": idx}]))
    assert dec is not None and dec[2][0] == pal[idx].tobytes()


def test_animated_compositing_transparency_and_disposal():
    """Partial frames composite onto the canvas; disposal 2 restores
    the region to background, disposal 3 restores the prior canvas;
    transparent pixels leave the canvas untouched."""
    pal = _pal(4)
    bg = 0
    canvas0 = np.tile(pal[bg], (6, 6, 1))
    f1 = np.full((6, 6), 1, np.uint8)  # full repaint
    # frame 2: 2x2 patch at (2,1) [left=2, top=1], color 2, disposal 3
    f2 = np.full((2, 2), 2, np.uint8)
    # frame 3: 3x3 patch at (0,0) with transparent holes, disposal 2
    f3 = np.array([[3, 0, 3], [0, 3, 0], [3, 0, 3]], np.uint8)
    gif = _gif(
        6,
        6,
        pal,
        [
            {"idx": f1},
            {"idx": f2, "left": 2, "top": 1, "disposal": 3},
            {"idx": f3, "transparent": 0, "disposal": 2},
        ],
        bg=bg,
    )
    dec = decode_gif(gif)
    assert dec is not None
    w, h, frames = dec
    assert (w, h, len(frames)) == (6, 6, 3)
    e1 = np.tile(pal[1], (6, 6, 1))
    assert frames[0] == e1.tobytes()
    e2 = e1.copy()
    e2[1:3, 2:4] = pal[2]
    assert frames[1] == e2.tobytes()
    # disposal 3 restored e1 before frame 3; transparent 0s keep e1
    e3 = e1.copy()
    mask = f3 != 0
    e3[:3, :3][mask] = pal[3]
    assert frames[2] == e3.tobytes()
    assert frames[2] != e1.tobytes()  # non-vacuous transparency check
    _ = canvas0  # background canvas only visible if first frame were partial


def test_partial_first_frame_shows_background():
    pal = _pal(4, seed=6)
    patch = np.full((2, 2), 3, np.uint8)
    dec = decode_gif(_gif(4, 4, pal, [{"idx": patch, "left": 1, "top": 1}], bg=2))
    assert dec is not None
    expect = np.tile(pal[2], (4, 4, 1))
    expect[1:3, 1:3] = pal[3]
    assert dec[2][0] == expect.tobytes()


def test_interlaced_frame_matches_progressive():
    pal = _pal(16, seed=8)
    idx = np.random.RandomState(3).randint(0, 16, (11, 5)).astype(np.uint8)
    plain = decode_gif(_gif(5, 11, pal, [{"idx": idx}]))
    laced = decode_gif(_gif(5, 11, pal, [{"idx": idx, "interlace": True}]))
    assert plain is not None and laced is not None
    assert plain[2][0] == laced[2][0] == pal[idx].tobytes()


def test_local_palette_overrides_global():
    gpal, lpal = _pal(4, seed=1), _pal(4, seed=2)
    idx = np.random.RandomState(5).randint(0, 4, (3, 3)).astype(np.uint8)
    dec = decode_gif(_gif(3, 3, gpal, [{"idx": idx, "local_palette": lpal}]))
    assert dec is not None and dec[2][0] == lpal[idx].tobytes()


def test_malformed_and_adversarial_gifs_never_raise():
    pal = _pal(8, seed=12)
    idx = np.random.RandomState(7).randint(0, 8, (6, 6)).astype(np.uint8)
    base = _gif(6, 6, pal, [{"idx": idx}])
    assert decode_gif(b"GIF89a") is None
    assert decode_gif(b"NOTGIF" + base[6:]) is None
    assert decode_gif(base[:20]) is None  # truncated
    # frame rectangle outside the logical screen
    assert decode_gif(_gif(4, 4, pal, [{"idx": idx, "left": 3, "top": 3}])) is None
    rng = np.random.RandomState(13)
    for _ in range(300):
        b = bytearray(base)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        r = decode_gif(bytes(b))
        assert r is None or all(len(f) == r[0] * r[1] * 3 for f in r[2])


def test_gif_decode_bombs_are_bounded(monkeypatch):
    """A huge logical screen or an attacker-chosen frame count cannot
    allocate past MAX_DECODE_BYTES — the decoder bails to None (opaque
    stub path) instead."""
    import travel_data_ingestion_spark.llm.multimodal as mm

    pal = _pal(4, seed=30)
    idx = np.zeros((2, 2), np.uint8)
    # huge logical screen: u16 dims claiming ~12 GB of pixels
    big = bytearray(_gif(4, 4, pal, [{"idx": idx}]))
    big[6:10] = struct.pack("<HH", 65000, 65000)
    assert decode_gif(bytes(big)) is None
    # frame-count bomb: cumulative composited bytes trip the cap
    small = _gif(4, 4, pal, [{"idx": idx, "left": 1, "top": 1}] * 5)
    assert decode_gif(small) is not None  # 5 frames fine at default cap
    monkeypatch.setattr(mm, "MAX_DECODE_BYTES", 4 * 4 * 3 * 3)  # 3 frames
    assert decode_gif(small) is None


def test_decode_image_takes_first_gif_frame():
    pal = _pal(4, seed=3)
    a = np.full((4, 4), 1, np.uint8)
    b = np.full((4, 4), 2, np.uint8)
    gif = _gif(4, 4, pal, [{"idx": a}, {"idx": b}])
    assert decode_image(gif) == (4, 4, pal[a].tobytes())


def test_sample_frames_end_to_end(spark):
    """Animated GIF -> every-10th composited frame as a real PPM
    payload; still image -> frame 0; opaque -> nothing. Sampled frames
    feed the SAME pHash as stills, pairing shared frames across two
    different 'videos' — cross-video near-dup with zero new
    machinery."""
    pal = _pal(32, seed=21)
    rng = np.random.RandomState(22)
    scenes = [rng.randint(0, 32, (16, 16)).astype(np.uint8) for _ in range(3)]
    # video A: scenes 0,1,2 at sampled offsets; video B reuses scene 1
    vid_a = _gif(16, 16, pal, [{"idx": scenes[i // 10]} for i in range(25)])
    vid_b = _gif(16, 16, pal, [{"idx": scenes[1]}, {"idx": scenes[2]}])
    still = b"P6\n4 2\n255\n" + bytes(24)
    media = spark.createDataFrame(
        [
            (1, bytearray(vid_a)),
            (2, bytearray(vid_b)),
            (3, bytearray(still)),
            (4, bytearray(b"opaque")),
        ],
        "media_id long, payload binary",
    )
    rows = sample_frames(media, every_n=10).collect()
    got = {(r.media_id, r.frame_index) for r in rows}
    assert got == {(1, 0), (1, 10), (1, 20), (2, 0), (3, 0)}
    by_key = {(r.media_id, r.frame_index): r for r in rows}
    for (mid, fi), r in by_key.items():
        assert bytes(r.payload).startswith(b"P6\n")
        if mid in (1, 2):
            assert (r.width, r.height) == (16, 16)
            scene = scenes[fi // 10] if mid == 1 else scenes[1]
            assert decode_image(bytes(r.payload)) == (16, 16, pal[scene].tobytes())
    # shared scene pairs across videos through the standard pHash
    pa = phash_bytes(bytes(by_key[(1, 10)].payload))
    pb = phash_bytes(bytes(by_key[(2, 0)].payload))
    assert pa == pb  # same composited pixels -> identical signature
    with pytest.raises(ValueError):
        sample_frames(media, every_n=0)


# ---------------------------------------------------------------------------
# SYSTEM giflib conformance (round 13): everything above round-trips
# through the in-repo _gif encoder — the self-consistent evidence class.
# The installed giflib (/usr/lib/x86_64-linux-gnu/libgif.so.7) is an
# independent reader: its DGifSlurp must decode the repo-encoded
# streams (incl. the pinned media fixtures) to the EXACT same rasters,
# so an LZW convention shared by the in-repo encoder/decoder pair
# cannot hide. Read API only via ctypes (giflib 5.x public structs;
# no system gif ENCODER exists here, so the encode direction stays
# covered by the decoder's real-world-semantics tests above).

import ctypes
import os as _os
import tempfile as _tempfile


class _GifColorType(ctypes.Structure):
    _fields_ = [("Red", ctypes.c_ubyte), ("Green", ctypes.c_ubyte),
                ("Blue", ctypes.c_ubyte)]


class _ColorMapObject(ctypes.Structure):
    _fields_ = [("ColorCount", ctypes.c_int), ("BitsPerPixel", ctypes.c_int),
                ("SortFlag", ctypes.c_bool),
                ("Colors", ctypes.POINTER(_GifColorType))]


class _GifImageDesc(ctypes.Structure):
    _fields_ = [("Left", ctypes.c_int), ("Top", ctypes.c_int),
                ("Width", ctypes.c_int), ("Height", ctypes.c_int),
                ("Interlace", ctypes.c_bool),
                ("ColorMap", ctypes.POINTER(_ColorMapObject))]


class _ExtensionBlock(ctypes.Structure):
    _fields_ = [("ByteCount", ctypes.c_int),
                ("Bytes", ctypes.POINTER(ctypes.c_ubyte)),
                ("Function", ctypes.c_int)]


class _SavedImage(ctypes.Structure):
    _fields_ = [("ImageDesc", _GifImageDesc),
                ("RasterBits", ctypes.POINTER(ctypes.c_ubyte)),
                ("ExtensionBlockCount", ctypes.c_int),
                ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock))]


class _GifFileType(ctypes.Structure):
    _fields_ = [("SWidth", ctypes.c_int), ("SHeight", ctypes.c_int),
                ("SColorResolution", ctypes.c_int),
                ("SBackGroundColor", ctypes.c_int),
                ("AspectByte", ctypes.c_ubyte),
                ("SColorMap", ctypes.POINTER(_ColorMapObject)),
                ("ImageCount", ctypes.c_int), ("Image", _GifImageDesc),
                ("SavedImages", ctypes.POINTER(_SavedImage)),
                ("ExtensionBlockCount", ctypes.c_int),
                ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock)),
                ("Error", ctypes.c_int), ("UserData", ctypes.c_void_p),
                ("Private", ctypes.c_void_p)]


def _load_giflib():
    try:
        lib = ctypes.CDLL("/usr/lib/x86_64-linux-gnu/libgif.so.7")
        lib.DGifOpenFileName.restype = ctypes.POINTER(_GifFileType)
        lib.DGifOpenFileName.argtypes = [ctypes.c_char_p,
                                         ctypes.POINTER(ctypes.c_int)]
        lib.DGifSlurp.argtypes = [ctypes.POINTER(_GifFileType)]
        lib.DGifSlurp.restype = ctypes.c_int
        lib.DGifCloseFile.argtypes = [ctypes.POINTER(_GifFileType),
                                      ctypes.POINTER(ctypes.c_int)]
        return lib
    except (OSError, AttributeError):
        return None


_GIFLIB = _load_giflib()
needs_giflib = pytest.mark.skipif(_GIFLIB is None,
                                  reason="giflib not available")


def _giflib_slurp(payload: bytes):
    """(screen_w, screen_h, [(left, top, interlace, index_raster,
    palette)]) via the system giflib, or None."""
    d = _tempfile.mkdtemp(prefix="giflib_")
    path = _os.path.join(d, "t.gif")
    with open(path, "wb") as f:
        f.write(payload)
    err = ctypes.c_int(0)
    g = _GIFLIB.DGifOpenFileName(path.encode(), ctypes.byref(err))
    if not g:
        return None
    if _GIFLIB.DGifSlurp(g) != 1:
        _GIFLIB.DGifCloseFile(g, ctypes.byref(err))
        return None
    f = g.contents
    frames = []
    for i in range(f.ImageCount):
        si = f.SavedImages[i]
        desc = si.ImageDesc
        n = desc.Width * desc.Height
        idx = np.ctypeslib.as_array(si.RasterBits, shape=(n,)).copy()
        idx = idx.reshape(desc.Height, desc.Width)
        cm = desc.ColorMap if desc.ColorMap else f.SColorMap
        cc = cm.contents.ColorCount
        pal = np.array(
            [(cm.contents.Colors[j].Red, cm.contents.Colors[j].Green,
              cm.contents.Colors[j].Blue) for j in range(cc)],
            dtype=np.uint8,
        )
        frames.append((desc.Left, desc.Top, bool(desc.Interlace), idx, pal))
    out = (f.SWidth, f.SHeight, frames)
    _GIFLIB.DGifCloseFile(g, ctypes.byref(err))
    return out


@needs_giflib
def test_giflib_agrees_on_repo_encoded_single_frames():
    rng = np.random.default_rng(5)
    cases = [
        ("noise16", rng.integers(0, 16, (21, 33), dtype=np.uint8),
         rng.integers(0, 256, (16, 3), dtype=np.uint8)),
        ("bands256", (np.arange(24 * 40).reshape(24, 40) % 256
                      ).astype(np.uint8),
         rng.integers(0, 256, (256, 3), dtype=np.uint8)),
        ("flat", np.zeros((9, 7), np.uint8),
         np.array([[10, 200, 30], [0, 0, 0]], np.uint8)),
    ]
    for name, idx, pal in cases:
        payload = _gif(idx.shape[1], idx.shape[0], pal,
                       [dict(idx=idx, left=0, top=0)])
        # independent reader: exact index raster + palette
        slurped = _giflib_slurp(payload)
        assert slurped is not None, name
        sw, sh, frames = slurped
        assert (sw, sh) == (idx.shape[1], idx.shape[0])
        left, top, inter, sys_idx, sys_pal = frames[0]
        assert not inter and (left, top) == (0, 0)
        assert np.array_equal(sys_idx, idx), name
        assert np.array_equal(sys_pal[: len(pal)], pal), name
        # and the package decoder composites the same pixels
        w, h, reps = decode_gif(payload)
        repo_rgb = np.frombuffer(reps[0], dtype=np.uint8).reshape(h, w, 3)
        assert np.array_equal(repo_rgb, pal[idx]), name


@needs_giflib
def test_giflib_reads_the_pinned_media_fixtures():
    from travel_data_ingestion_spark.queries import media_literals as ML

    # the still fixture: giflib raster -> palette == the package frame
    slurped = _giflib_slurp(ML.DELTA_GIF)
    assert slurped is not None
    sw, sh, frames = slurped
    w, h, reps = decode_gif(ML.DELTA_GIF)
    assert (sw, sh) == (w, h) and len(frames) == len(reps) == 1
    left, top, inter, idx, pal = frames[0]
    assert not inter and (left, top) == (0, 0)
    repo_rgb = np.frombuffer(reps[0], dtype=np.uint8).reshape(h, w, 3)
    assert np.array_equal(repo_rgb, pal[idx])

    # the 23-frame video fixture: frame count + geometry agree (frames
    # composite through disposal rules, so rasters anchor geometry)
    slurped = _giflib_slurp(ML.VIDEO_GIF_23F)
    assert slurped is not None
    sw, sh, frames = slurped
    w, h, reps = decode_gif(ML.VIDEO_GIF_23F)
    assert (sw, sh) == (w, h)
    assert len(frames) == len(reps) == 23
    for left, top, _inter, idx, _pal in frames:
        assert 0 <= left and 0 <= top
        assert left + idx.shape[1] <= w and top + idx.shape[0] <= h
